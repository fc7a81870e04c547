package graft.catalog

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.expressions.{Expressions, NullOrdering, SortDirection, Transform, SortOrder => V2SortOrder}
import org.apache.spark.sql.connector.read.{HasPartitionKey, InputPartition, SupportsReportOrdering, SupportsReportPartitioning}
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning}
import org.apache.spark.sql.execution.datasources.{FilePartition, PartitionedFile}
import org.apache.spark.sql.execution.datasources.v2.parquet.{ParquetScan, ParquetScanBuilder}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.sink.{ColStat, Manifest, PartitionTransforms}

/** Storage-partitioned join (SPJ) support: scans of tables whose declared
  * partition spec provably clusters every data file on a single partition
  * value report that clustering to Spark as a `KeyGroupedPartitioning`, and
  * Spark's `EnsureRequirements` then joins two co-partitioned tables with
  * ZERO shuffle exchange — each task zips one partition-value group of files
  * from each side (Iceberg's SPJ analog; the reference's warehouse relies on
  * the same Iceberg bucket metadata for engine-side co-location).
  *
  * This is the 100 TB fact-fact join story: with `bucket(n, key)` declared
  * on both tables, the suite's big FK joins stop shuffling both sides —
  * the single largest exchange cost in the plan — and AQE never has to
  * re-plan a skewed shuffle that no longer exists.
  *
  * Eligibility is decided from the MANIFEST, not the data: every file must
  * carry a stat for every spec transform with `min == max` (single-valued).
  * Writes guarantee this by splitting files hive-style on the materialized
  * transform value ([[graft.sink.Warehouse]] `cluster`/`writeData`), and
  * pre-SPJ tables whose files straddle values simply fall back to the
  * shuffled plan — reporting is an optimization, never a correctness claim.
  *
  * Wiring: [[GraftTable.newScanBuilder]] builds [[SpjScanBuilder]] when
  * [[SpjSupport.infoFor]] accepts the manifest; the built scan is a
  * [[KeyGroupedParquetScan]] — Spark's own vectorized parquet scan plus
  * `SupportsReportPartitioning` — and the transform functions resolve
  * through [[GraftCatalog]]'s `FunctionCatalog` face ([[TransformFunctions]]).
  * Requires `spark.sql.sources.v2.bucketing.enabled=true` (Spark's SPJ
  * master switch) to actually drop the exchanges.
  */
object SpjSupport {

  /** One spec transform, ready for both planning faces: the V2 `Transform`
    * Spark resolves against the function catalog, and the parser that turns
    * a file's manifest stat string into the partition-key catalyst value.
    */
  final case class KeyField(transform: Transform, parse: String => Any)

  /** Everything the scan needs to report clustering: the V2 transforms (spec
    * order) and, per absolute file path, the file's rendered partition-value
    * tuple (None = the file's value is null for that transform).
    */
  final case class Info(transforms: Seq[Transform], keyStrsByPath: Map[String, Seq[Option[String]]],
                        private val fields: Seq[KeyField]) {
    def keyRow(strs: Seq[Option[String]]): InternalRow =
      new GenericInternalRow(strs.zip(fields).map { case (s, f) => s.map(f.parse).orNull }.toArray)
    def distinctKeys: Int = keyStrsByPath.values.toSet.size
  }

  /** Identity partition values must be reconstructable from the rendered
    * stat string EXACTLY as catalyst internal values; floats/decimals are
    * excluded (text round-trip risk buys nothing — nobody identity-partitions
    * on them) and unsupported types just disable SPJ for the table.
    */
  private def identityParser(dt: DataType): Option[String => Any] = dt match {
    case StringType    => Some(s => UTF8String.fromString(s))
    case ByteType      => Some(s => java.lang.Byte.valueOf(s.toByte))
    case ShortType     => Some(s => java.lang.Short.valueOf(s.toShort))
    case IntegerType   => Some(s => java.lang.Integer.valueOf(s.toInt))
    case LongType      => Some(s => java.lang.Long.valueOf(s.toLong))
    case DateType      => Some(s => java.lang.Integer.valueOf(s.toInt))  // stat = epoch day
    case TimestampType => Some(s => java.lang.Long.valueOf(s.toLong))   // stat = epoch micros
    case BooleanType   => Some(s => java.lang.Boolean.valueOf(s == "1")) // stat = 0/1
    case _             => None
  }

  private def keyField(f: PartitionTransforms.Field, dt: DataType): Option[KeyField] = f.fn match {
    case "identity" =>
      identityParser(dt).map(p => KeyField(Expressions.identity(f.src), p))
    case "bucket" =>
      Some(KeyField(Expressions.bucket(f.param.get, f.src),
        s => java.lang.Integer.valueOf(s.toInt)))
    // truncate is deliberately NOT reported: Spark's SPJ compatibility
    // check compares bound functions by canonical name (+ numBuckets for
    // the special-cased bucket transform), and a BoundFunction is bound
    // from TYPES only — the width literal can neither ride the canonical
    // name nor be compared, so truncate(4,s) vs truncate(8,s) would
    // silently claim co-partitioning and zip mismatched groups (wrong
    // rows, no error). Bucket is safe: its count IS compared via
    // numBucketsOpt (BucketedJoinSpec pins the mismatch fallback).
    case "truncate" => None
    case "years"  => Some(KeyField(Expressions.years(f.src), s => java.lang.Long.valueOf(s.toLong)))
    case "months" => Some(KeyField(Expressions.months(f.src), s => java.lang.Long.valueOf(s.toLong)))
    case "days"   => Some(KeyField(Expressions.days(f.src), s => java.lang.Long.valueOf(s.toLong)))
    case "hours"  => Some(KeyField(Expressions.hours(f.src), s => java.lang.Long.valueOf(s.toLong)))
    case _        => None
  }

  /** Decide SPJ eligibility for one snapshot. Returns None (→ plain scan,
    * shuffled joins, always correct) unless EVERY spec transform is
    * representable and EVERY data file is provably single-valued on EVERY
    * transform (stat present with min == max; an all-null "z" stat is the
    * null partition value). O(files × transforms), manifest-resident —
    * no data IO.
    */
  def infoFor(spec: Seq[String], manifest: Manifest,
              pathOf: String => String): Option[Info] = {
    if (spec.isEmpty || manifest.files.isEmpty || manifest.deletes.nonEmpty) return None
    val parsed = spec.map(PartitionTransforms.parse)
    if (parsed.exists(_.isEmpty)) return None
    val fields = parsed.flatten
    val kfs = fields.map { f =>
      manifest.schema.fields.find(_.name == f.src) match {
        case Some(sf) => keyField(f, sf.dataType)
        case None     => None
      }
    }
    if (kfs.exists(_.isEmpty)) return None
    val keyOf: graft.sink.DataFile => Option[Seq[Option[String]]] = df => {
      val vals = fields.map { f =>
        df.stats.get(f.key) match {
          case Some(ColStat("z", _, _, _))            => Some(None)
          case Some(ColStat(_, mn, mx, _)) if mn == mx => Some(Some(mn))
          case _                                      => None
        }
      }
      if (vals.exists(_.isEmpty)) None else Some(vals.flatten)
    }
    val entries = manifest.files.map(df => keyOf(df).map(k => pathOf(df.path) -> k))
    if (entries.exists(_.isEmpty)) None
    else Some(Info(kfs.flatten.map(_.transform), entries.flatten.toMap, kfs.flatten))
  }
}

/** Runtime (join-driven) file pruning: converts the V2 `Predicate`s Spark's
  * dynamic-partition-pruning machinery hands a `SupportsRuntimeV2Filtering`
  * scan — IN-sets of join-key values harvested from the filtering side at
  * execution time — into the SAME per-file bounds test the static
  * [[ManifestPruneRule]] uses (raw min/max + transform projection, so a
  * bucket-partitioned fact prunes whole buckets from a dim's surviving
  * keys). Conservative: unknown predicate shapes keep the file.
  */
object V2PredicatePruning {
  import org.apache.spark.sql.catalyst.expressions.Literal
  import org.apache.spark.sql.connector.expressions.{NamedReference, Expression => V2Expr, Literal => V2Literal}
  import org.apache.spark.sql.connector.expressions.filter.Predicate

  private def colOf(e: V2Expr): Option[String] = e match {
    case r: NamedReference if r.fieldNames().length == 1 => Some(r.fieldNames()(0))
    case _ => None
  }
  // LiteralValue carries Catalyst-internal values (UTF8String, micros, days)
  // — exactly what ManifestPruneRule.check's render side expects
  private def litOf(e: V2Expr): Option[Literal] = e match {
    case l: V2Literal[_] => Some(Literal(l.value, l.dataType))
    case _ => None
  }

  /** May `file` contain a row satisfying runtime predicate `p`? */
  def mayMatch(file: graft.sink.DataFile, p: Predicate): Boolean = p.name() match {
    case "IN" =>
      val ch = p.children()
      (colOf(ch(0)), ch.drop(1).toSeq.map(litOf)) match {
        case (Some(c), ls) if ls.nonEmpty && ls.forall(_.isDefined) =>
          ls.flatten.exists(l => ManifestPruneRule.check(file, c, "=", l))
        case _ => true
      }
    case "=" =>
      val ch = p.children()
      (for (c <- colOf(ch(0)); l <- litOf(ch(1))) yield ManifestPruneRule.check(file, c, "=", l))
        .orElse(for (l <- litOf(ch(0)); c <- colOf(ch(1))) yield ManifestPruneRule.check(file, c, "=", l))
        .getOrElse(true)
    case "AND" =>
      p.children().forall {
        case q: Predicate => mayMatch(file, q)
        case _            => true
      }
    case _ => true
  }

  /** Equality-shaped (column, candidate literals) pairs inside a runtime
    * predicate — the probe shapes the per-file Bloom sidecars can answer.
    * Oversized IN-sets and non-literal children contribute nothing.
    */
  private val MaxProbeValues = 512

  def eqShapes(p: Predicate): Seq[(String, Seq[Literal])] = p.name() match {
    case "=" =>
      val ch = p.children()
      (for (c <- colOf(ch(0)); l <- litOf(ch(1))) yield (c, Seq(l)))
        .orElse(for (l <- litOf(ch(0)); c <- colOf(ch(1))) yield (c, Seq(l)))
        .toSeq
    case "IN" =>
      val ch = p.children()
      (colOf(ch(0)), ch.drop(1).toSeq.map(litOf)) match {
        case (Some(c), ls) if ls.nonEmpty && ls.size <= MaxProbeValues &&
            ls.forall(_.isDefined) => Seq(c -> ls.flatten)
        case _ => Nil
      }
    case "AND" =>
      p.children().toSeq.flatMap {
        case q: Predicate => eqShapes(q)
        case _            => Nil
      }
    case _ => Nil
  }
}

/** A [[FilePartition]] that knows its partition-value tuple — what lets
  * Spark's `DataSourceV2ScanExecBase.groupPartitions` key-group the scan.
  * Still a FilePartition, so Spark's own `FilePartitionReaderFactory`
  * (vectorized parquet reader, whole-stage codegen) reads it unchanged.
  */
final class KeyedFilePartition(index: Int, files: Array[PartitionedFile], key: InternalRow)
    extends FilePartition(index, files) with HasPartitionKey {
  override def partitionKey(): InternalRow = key
}

/** Spark's own `ParquetScan` (inherits pushdown, vectorization, codegen,
  * stats) plus `SupportsRuntimeV2Filtering`: at execution time Spark's
  * dynamic-partition-pruning rules hand the scan the IN-set of join-key
  * values that actually survived the filtering side, and the scan drops
  * every data file whose manifest bounds (raw min/max AND transform
  * projection -- [[V2PredicatePruning]]) prove it disjoint. This is the
  * join-driven complement of the static `ManifestPruneRule`: a selective
  * dim filter prunes FACT files before a single fact byte is read -- at
  * 100 TB the difference between scanning the table and scanning the few
  * buckets/ranges the dim's keys live in. Wraps EVERY warehouse scan
  * (pruning is manifest-resident, costs nothing when no runtime filter
  * arrives).
  *
  * `filesByPath` keys are normalized absolute paths; values the manifest
  * entries whose stats drive the pruning. Case-class equality is inherited
  * from ParquetScan; runtime-filter state is deliberately excluded (Spark
  * distinguishes filtered scans by the exec node's runtimeFilters, and
  * canonicalization strips them).
  */
sealed class GraftParquetScan(base: ParquetScan,
                              filesByPath: Map[String, graft.sink.DataFile],
                              streamRef: Option[(String, String)] = None,
                              statsRef: Option[(String, String)] = None,
                              val keepPaths: Option[Set[String]] = None,
                              bloomRef: Option[(String, String)] = None)
    extends ParquetScan(base.sparkSession, base.hadoopConf, base.fileIndex, base.dataSchema,
      base.readDataSchema, base.readPartitionSchema, base.pushedFilters, base.options,
      base.pushedAggregate, base.partitionFilters, base.dataFilters,
      base.pushedVariantExtractions)
    with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering {

  // `keepPaths` is the build-time LIMIT/top-k file selection
  // ([[TopNPruning]]): unlike runtime-filter state it must participate in
  // scan equality, or exchange/scan reuse could substitute a limit-pruned
  // scan for a full one (case-class equality inherited from ParquetScan
  // compares only the base fields).
  override def equals(o: Any): Boolean = o match {
    case g: GraftParquetScan => super.equals(g) && keepPaths == g.keepPaths
    case _                   => false
  }
  override def hashCode(): Int = super.hashCode() * 31 + keepPaths.hashCode()

  /** Paths surviving runtime filters; None = no filter arrived. Mutable by
    * design -- Spark calls filter() on the planned scan then re-plans
    * partitions (the Iceberg SparkBatchQueryScan protocol). Multiple calls
    * intersect.
    */
  @volatile private var allowed: Option[Set[String]] = None

  /** Columns a runtime filter can prune on: any READ column with recorded
    * per-file bounds, plus the SOURCE columns of partition transforms
    * (bucket/days/... projection gives them pruning power beyond raw
    * bounds). Limited to the read schema, as Spark's own `FileScan` does:
    * dynamic pruning resolves every reported name against the
    * column-pruned relation's output and fails on one it cannot find.
    */
  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] = {
    // a limit/top-k-pruned scan must not compose with runtime filters: the
    // ≥ k row guarantee was computed over the kept files' FULL contents, and
    // a join-driven filter removing rows (or whole kept files) could leave
    // fewer than k — while a correct execution would still deliver k
    if (keepPaths.isDefined) return Array.empty
    val statKeys = filesByPath.valuesIterator.flatMap(_.stats.keysIterator).toSet
    val cols = statKeys.map(k => PartitionTransforms.parseKey(k).map(_.src).getOrElse(k))
    val schemaCols = readSchema().fieldNames.toSet
    cols.intersect(schemaCols).toArray.sorted.map(Expressions.column)
  }

  override def filter(predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit = {
    val byStats = filesByPath.filter { case (_, df) =>
      predicates.forall(V2PredicatePruning.mayMatch(df, _))
    }
    // Bloom consult for equality-shaped runtime values (the DPP IN-set, a
    // join-driven point lookup): on an INDEXED high-cardinality key whose
    // per-file min/max spans the domain, bounds keep everything — the
    // sidecar probe is the only channel that prunes. Hashes computed once
    // per filter() call; the O(1) marker read gates all sidecar IO, so
    // un-indexed tables/columns pay nothing here (same discipline as
    // ManifestPruneRule's static consult).
    val kept = bloomRef match {
      case Some((t, r)) if byStats.nonEmpty =>
        import graft.sink.BloomIndex
        val indexed = BloomIndex.indexedCols(
          new graft.sink.Warehouse(sparkSession, r).tableDirOf(t))
        val probes: Seq[(String, Seq[Long])] =
          if (indexed.isEmpty) Nil
          else predicates.toSeq.flatMap(V2PredicatePruning.eqShapes).flatMap {
            case (c, ls) =>
              val field = dataSchema.fields.find(_.name == c)
              if (!indexed.contains(c) ||
                  !field.exists(f => ls.forall(_.dataType == f.dataType))) None
              else {
                val hs = ls.filter(_.value != null).map(BloomIndex.hashLiteral)
                if (hs.contains(None)) None
                else Some(BloomIndex.keyFor(dataSchema, c) -> hs.flatten)
              }
          }
        if (probes.isEmpty) byStats.keySet
        else byStats.keySet.filter(abs => probes.forall { case (key, hs) =>
          hs.exists(h => BloomIndex.mightContain(abs, key, h))
        })
      case _ => byStats.keySet
    }
    allowed = Some(allowed.fold(kept)(_ intersect kept))
  }

  /** Build-time (limit/top-k) ∩ runtime-filter survivors; None = no
    * restriction. (The two never actually compose — `filterAttributes` is
    * empty when `keepPaths` is set — but intersecting stays correct.)
    */
  private def surviving: Option[Set[String]] = (keepPaths, allowed) match {
    case (None, None) => None
    case (a, b)       => Some(Seq(a, b).flatten.reduce(_ intersect _))
  }

  override def planInputPartitions(): Array[InputPartition] = {
    val parts = super.planInputPartitions()
    surviving match {
      case None => parts
      case Some(ok) =>
        parts.iterator.flatMap {
          case fp: FilePartition =>
            val kept = fp.files.filter(pf => ok.contains(pf.filePath.toPath.toUri.getPath))
            if (kept.isEmpty) None else Some(kept)
          case other => throw new IllegalStateException(s"unexpected partition ${other.getClass}")
        }.zipWithIndex.map { case (files, i) => FilePartition(i, files): InputPartition }.toArray
    }
  }

  /** Manifest-exact planning statistics (Iceberg SparkScan analog). Spark's
    * stock `FileScan` estimate is on-disk bytes — compressed, and blind to
    * both row counts and column pruning — so the planner's broadcast
    * decision runs on the wrong number in exactly the cases that matter
    * (narrow projection of a wide fact). The manifest already holds exact
    * per-file row counts the commit paid for: report their sum as
    * `numRows`, and size the scan as rows x the READ schema's row width, so
    * a 2-column projection of a 40-column table is costed as 2 columns.
    * Variable-width columns cut the other way — `defaultSize` is a flat 20
    * for strings, so a fat-text column would be costed near zero and flip
    * joins to broadcasts that OOM; when the read schema includes one, the
    * estimate charges the surviving files' on-disk bytes (net of the fixed
    * columns' share) instead, keeping the narrow-projection win without
    * the fat-string regression.
    * Composes with pruning at every grain: `ManifestPruneRule` shrinks
    * `filesByPath` before planning, and an arrived runtime filter
    * (`allowed`) shrinks it again on re-plan. Counts are exact for the
    * files scanned; pushed data filters only reduce them further, keeping
    * this a safe upper bound — same contract as Iceberg's — with ONE
    * measured discount: a pushed `LIKE 'p%'` scales the estimate by the
    * ANALYZE string-KLL's prefix mass ([[graft.sink.StringPrefixKey]]),
    * because Catalyst's FilterEstimation has no StartsWith arm and would
    * otherwise cost the filtered side at full size forever (a selective
    * prefix probe could then never broadcast). Only StartsWith discounts
    * here — shapes CBO itself prices (equality, numeric ranges) must not
    * be double-discounted.
    *
    * Two guards keep the discount from breaking the safe-upper-bound
    * contract in the dangerous direction (an UNDERestimated side flips
    * into a broadcast that OOMs):
    *
    *   - STALENESS: the sketch reflects the distribution at the last
    *     ANALYZE. The discount only applies while at most ~25% of the
    *     analyzed row count has been INGESTED since (measured as the drift
    *     of the manifest header's monotone row-lineage high-water from the
    *     hwm the ANALYZE stamped — a 2-line metadata read, never a
    *     manifest replay, and churn-immune where raw row counts are not).
    *     Grown past the gate, post-ANALYZE rows concentrated under the
    *     probed prefix could dwarf the sketched mass — the estimate
    *     reverts to undiscounted. Unknown hwm on either side (pre-lineage
    *     table, pre-field stats) also reverts: no discount without proof
    *     of freshness.
    *   - RESOLUTION: the per-conjunct mass is floored at the sketch's own
    *     double-sided normalized rank error ([[graft.sink.StringPrefixKey
    *     .boundedMass]]) instead of a nominal 1e-9 — a measured mass below
    *     the sketch's resolution is noise, not evidence of emptiness.
    */
  private lazy val prefixSelectivity: Double = statsRef match {
    case None => 1.0
    case Some((t, r)) =>
      val wh = new graft.sink.Warehouse(sparkSession, r)
      val csO = wh.columnStats(t)
      csO.fold(1.0) { cs =>
        val hwm = try wh.manifestHeader(t).rowHwm catch { case _: Exception => -1L }
        // -1 on either side = unknown growth: conservative, no discount
        val fresh = cs.rows > 0 && hwm >= 0 && cs.hwm >= 0 &&
          hwm - cs.hwm <= cs.rows / 4
        if (!fresh) 1.0
        else pushedFilters.iterator.map {
          case org.apache.spark.sql.sources.StringStartsWith(a, p) =>
            (for {
              e <- cs.cols.get(a)
              if dataSchema.fields.exists(f => f.name == a &&
                f.dataType == org.apache.spark.sql.types.StringType)
              m <- {
                val (lo, hi) = graft.sink.StringPrefixKey.range(
                  p.getBytes(java.nio.charset.StandardCharsets.UTF_8))
                graft.sink.StringPrefixKey.boundedMass(e.kllB64, lo, hi)
              }
            } yield {
              val nonNull = math.max(cs.rows - e.nullCount, 0L)
              math.max(m * nonNull / cs.rows, 1e-9)
            }).getOrElse(1.0)
          case _ => 1.0
        }.product.min(1.0)
      }
  }

  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics = {
    import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, MapType, StringType, StructType}
    def isVar(dt: DataType): Boolean = dt match {
      case StringType | BinaryType                     => true
      case _: ArrayType | _: MapType | _: StructType   => true
      case _                                           => false
    }
    val surviving = this.surviving.fold(filesByPath)(ok => filesByPath.filter(kv => ok(kv._1)))
    val rows = surviving.valuesIterator.map(_.rows).sum
    // partition columns live in directory names, not file bytes: always a
    // flat per-row charge
    val partW = readPartitionSchema.fields.map(_.dataType.defaultSize).sum
    val readFields = readDataSchema.fields
    val readFixedW = readFields.filterNot(f => isVar(f.dataType)).map(_.dataType.defaultSize).sum
    val size =
      if (!readFields.exists(f => isVar(f.dataType)))
        // fixed-width read schema: rows x width is (near-)exact — the
        // narrow-projection broadcast win this override exists for
        math.max(rows * (readFixedW + partW).max(1), 1L)
      else {
        // variable-width columns are read: defaultSize (a flat 20 for
        // strings) can be a massive UNDERestimate, and a too-small size
        // flips joins to broadcasts that OOM. Charge the surviving files'
        // ON-DISK bytes net of the fixed columns' share, apportioned by
        // var-column count — compressed, so still conservative-low, but it
        // tracks the real payload where the width formula is blind.
        val lenByPath = fileIndex.allFiles().iterator
          .map(f => f.getPath.toUri.getPath -> f.getLen).toMap
        val disk = surviving.keysIterator.map(p => lenByPath.getOrElse(p, 0L)).sum
        val fixedFullW = dataSchema.fields.filterNot(f => isVar(f.dataType))
          .map(_.dataType.defaultSize).sum
        val nVarFull = dataSchema.fields.count(f => isVar(f.dataType)).max(1)
        val nVarRead = readFields.count(f => isVar(f.dataType))
        val readVarW = readFields.filter(f => isVar(f.dataType)).map(_.dataType.defaultSize).sum
        val varShare = math.max(disk - rows * fixedFullW, 0L) * nVarRead / nVarFull
        math.max(rows * (readFixedW + partW) + math.max(rows * readVarW, varShare), 1L)
      }
    val estRows = math.max(math.round(rows * prefixSelectivity), 1L)
    val estSize = math.max(math.round(size * prefixSelectivity), 1L)
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong = java.util.OptionalLong.of(estSize)
      override def numRows(): java.util.OptionalLong = java.util.OptionalLong.of(estRows)
      override def columnStats(): java.util.Map[
          org.apache.spark.sql.connector.expressions.NamedReference,
          org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = ndvStats
    }
  }

  /** ANALYZE-served per-column statistics ([[graft.sink.Warehouse.analyzeTable]]):
    * NDV / null count / length stats for the read columns, handed to
    * Catalyst as DSv2 `columnStats` so CBO's join reorder and selectivity
    * estimation run on measured numbers. Served only for LIVE, unpruned
    * scans (`statsRef`, the same gate as streaming): a time-travel snapshot
    * or a prune-restricted file set is a different population than the one
    * analyzed. Staleness across later commits is the ordinary ANALYZE
    * contract — estimates, versioned by the analyze, refreshed by the next
    * `CALL graft.system.analyze`.
    */
  private lazy val ndvStats: java.util.Map[
      org.apache.spark.sql.connector.expressions.NamedReference,
      org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
    import java.util.{Optional, OptionalLong}
    import org.apache.spark.sql.connector.read.colstats.{ColumnStatistics, Histogram, HistogramBin}
    import org.apache.spark.sql.types._
    // ANALYZE-stored min/max render → the CATALYST value Catalyst's
    // ColumnStat carries for the column's type (estimation compares these
    // against INTERNAL literal values — timestamps as epoch-micros Longs,
    // dates as epoch-days Ints, exactly the domain ANALYZE sketched);
    // unconvertible/absent → not served
    def typedBound(s: String, dt: DataType): Option[Object] =
      if (s.isEmpty) None
      else try dt match {
        case ByteType     => Some(java.lang.Byte.valueOf(s.toByte))
        case ShortType    => Some(java.lang.Short.valueOf(s.toShort))
        case IntegerType  => Some(java.lang.Integer.valueOf(s.toInt))
        case LongType     => Some(java.lang.Long.valueOf(s.toLong))
        case FloatType    => Some(java.lang.Float.valueOf(s.toFloat))
        case DoubleType   => Some(java.lang.Double.valueOf(s.toDouble))
        case _: DecimalType => Some(Decimal(new java.math.BigDecimal(s)))
        case TimestampType | TimestampNTZType => Some(java.lang.Long.valueOf(s.toLong))
        case DateType     => Some(java.lang.Integer.valueOf(s.toInt))
        case _ => None
      } catch { case _: NumberFormatException => None }
    val numBins = sparkSession.conf
      .get("spark.sql.statistics.histogram.numBins", "254").toInt
    val m = new java.util.HashMap[
      org.apache.spark.sql.connector.expressions.NamedReference, ColumnStatistics]()
    for {
      (t, r) <- statsRef
      cs <- new graft.sink.Warehouse(sparkSession, r).columnStats(t)
      f <- readDataSchema.fields
      e <- cs.cols.get(f.name)
    } {
      val minO = typedBound(e.minV, f.dataType)
      val maxO = typedBound(e.maxV, f.dataType)
      // Catalyst's histogram estimation assumes min/max ride along — serve
      // the equi-height bins only when the exact bounds do too
      val hist: Option[(Double, Array[(Double, Double, Long)])] =
        if (minO.isEmpty || maxO.isEmpty) None
        else graft.sink.ColStatsHistogram.bins(
          e.kllB64, cs.rows - e.nullCount, e.ndv, numBins)
      m.put(Expressions.column(f.name), new ColumnStatistics {
        override def distinctCount(): OptionalLong = OptionalLong.of(e.ndv)
        override def nullCount(): OptionalLong = OptionalLong.of(e.nullCount)
        override def avgLen(): OptionalLong =
          if (e.avgLen >= 0) OptionalLong.of(e.avgLen) else OptionalLong.empty()
        override def maxLen(): OptionalLong =
          if (e.maxLen >= 0) OptionalLong.of(e.maxLen) else OptionalLong.empty()
        override def min(): Optional[Object] =
          minO.fold(Optional.empty[Object]())(Optional.of)
        override def max(): Optional[Object] =
          maxO.fold(Optional.empty[Object]())(Optional.of)
        override def histogram(): Optional[Histogram] = hist match {
          case None => Optional.empty()
          case Some((h, bs)) => Optional.of(new Histogram {
            override def height(): Double = h
            override def bins(): Array[HistogramBin] = bs.map { case (l, u, n) =>
              new HistogramBin {
                override def lo(): Double = l
                override def hi(): Double = u
                override def ndv(): Long = n
              }: HistogramBin
            }
          })
        }
      })
    }
    m
  }

  /** `spark.readStream.table(...)` — see [[GraftMicroBatchStream]]. Only a
    * live, unpruned table can be a stream (a pinned snapshot never grows,
    * and a pruned scan's file set is query-local).
    */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    val (t, r) = streamRef.getOrElse(throw new UnsupportedOperationException(
      "streaming read is supported only on a live warehouse table " +
        "(not a time-travel snapshot or a pruned scan)"))
    require(readPartitionSchema.isEmpty,
      s"streaming read of hive-split (partition-transformed) table $t is not supported; " +
        "read the identity-layout table or consume ChangeFeedStream")
    new GraftMicroBatchStream(t, r, this, options)
  }
}

/** [[GraftParquetScan]] plus `SupportsReportPartitioning`: input partitions
  * are regrouped so each holds exactly the file chunks of ONE
  * partition-value tuple, and the reported `KeyGroupedPartitioning` names
  * the spec transforms. Spark does the rest -- `V2ScanPartitioningAndOrdering`
  * resolves the transforms through the catalog's functions, and
  * co-partitioned joins drop their exchanges. Runtime filters compose:
  * pruned files vanish from their groups (a group losing every file
  * disappears; pushPartValues covers the asymmetry).
  */
final class KeyGroupedParquetScan(base: ParquetScan,
                                  filesByPath: Map[String, graft.sink.DataFile],
                                  info: SpjSupport.Info,
                                  statsRef: Option[(String, String)] = None,
                                  bloomRef: Option[(String, String)] = None)
    extends GraftParquetScan(base, filesByPath, None, statsRef, None, bloomRef)
    with SupportsReportPartitioning with SupportsReportOrdering {

  override def outputPartitioning(): Partitioning =
    new KeyGroupedPartitioning(
      info.transforms.toArray[org.apache.spark.sql.connector.expressions.Expression],
      info.distinctKeys)

  /** Per-partition sort order provable from manifest metadata alone, as the
    * longest provable PREFIX of the written sort key, leading column first.
    *
    * Every file must carry the [[graft.sink.SortMarker]]; the candidate
    * prefix is the longest COMMON prefix of all files' marker id lists
    * whose ids still resolve to read-schema columns (rename-stable, dies
    * with drop/prune). The LEADING column then needs a recorded, null-free
    * stat in one domain whose [min, max] chain disjointly within every key
    * group — so the group's files concatenate (in the order
    * [[planInputPartitions]] arranges them) into one run sorted on it.
    * How much of the prefix that proves depends on the boundaries:
    *
    *   - every boundary STRICT (`max < next.min`): no leading-key value
    *     spans two files, so each file's own within-file full-key sort
    *     (`cluster`'s sortWithinPartitions — what the marker records)
    *     extends the concatenated order to the WHOLE resolved prefix;
    *   - any tie at a boundary (`max == next.min`): rows with that leading
    *     value sit in two files whose relative secondary order is unproven
    *     — only the leading column is reported.
    *
    * Non-leading columns need no stats at all: their proof is the
    * within-file write order plus boundary strictness. Reported as
    * `SupportsReportOrdering`, this is what lets a co-partitioned
    * sort-merge join — on a single OR compound key — plan with NO
    * per-partition Sort: the write already paid for the order, the read
    * should not pay again. Anything unprovable reports nothing — ordering
    * is an optimization, never a correctness claim.
    */
  private[catalog] lazy val provenOrdering: Option[Seq[(String, String)]] = {
    import graft.sink.{SortMarker, StatsPruning}
    val files = filesByPath.toSeq
    val idLists = files.map(_._2.stats.get(SortMarker.Key).map(SortMarker.ids).getOrElse(Nil))
    if (files.isEmpty || idLists.exists(_.isEmpty)) None
    else {
      val common = idLists.reduce { (a, b) =>
        a.zip(b).takeWhile(t => t._1 == t._2).map(_._1) }
      // resolve ids IN ORDER; the first unresolvable (dropped/pruned) id
      // ends the prefix — later ids cannot be skipped past it
      val resolved = common.iterator.map { fid =>
        readDataSchema.fields.find(f => f.metadata.contains("parquet.field.id") &&
          f.metadata.getLong("parquet.field.id") == fid)
      }.takeWhile(_.isDefined).map(_.get).toSeq
      if (resolved.isEmpty) None
      else {
        val lead = resolved.head.name
        val sts = files.map(_._2.stats.get(lead))
        // zero nulls everywhere on the LEADING column: a second file's
        // null-first run would land MID-partition and break the
        // concatenated order
        if (sts.exists(s => s.isEmpty || s.get.kind == "z" || s.get.nulls != 0L)) None
        else {
          val kind = sts.head.get.kind
          if (sts.exists(_.get.kind != kind)) None
          else {
            var strictAll = true
            val chains = files.groupBy { case (p, _) => info.keyStrsByPath.get(p) }
              .values.forall { g =>
                val ss = g.map(_._2.stats(lead)).sortWith(
                  (a, b) => StatsPruning.cmp(kind, a.min, b.min) < 0)
                ss.zip(ss.drop(1)).forall { case (a, b) =>
                  val c = StatsPruning.cmp(kind, a.max, b.min)
                  if (c == 0) strictAll = false
                  c <= 0
                }
              }
            if (!chains) None
            else if (!strictAll) Some(Seq((lead, kind)))
            else Some(resolved.map(f =>
              (f.name, files.head._2.stats.get(f.name).map(_.kind).getOrElse(""))))
          }
        }
      }
    }
  }

  override def outputOrdering(): Array[V2SortOrder] =
    provenOrdering.map { cols =>
      // cluster() writes sortWithinPartitions(cols) = ASC NULLS FIRST (and
      // the proof above requires zero nulls on the leading column anyway)
      cols.map { case (c, _) =>
        Expressions.sort(Expressions.column(c),
          SortDirection.ASCENDING, NullOrdering.NULLS_FIRST): V2SortOrder
      }.toArray
    }.getOrElse(Array.empty)

  /** Regroup the parent's planned (and runtime-filtered) chunks by partition
    * value. Parallelism is one task per surviving value-group -- inherent to
    * SPJ (a co-partitioned join task must hold a whole group), so bucket
    * counts should be chosen >= cluster parallelism (n=32+ here, hundreds on
    * a real cluster).
    */
  override def planInputPartitions(): Array[InputPartition] = {
    val chunks = super.planInputPartitions().flatMap {
      case fp: FilePartition => fp.files
      case other => throw new IllegalStateException(s"unexpected partition ${other.getClass}")
    }
    val grouped = chunks.groupBy { pf =>
      val p = pf.filePath.toPath.toUri.getPath
      info.keyStrsByPath.getOrElse(p,
        throw new IllegalStateException(s"file $p missing from the SPJ key map"))
    }
    // Element-wise lexicographic ordering on the key tuple itself (None
    // first): unambiguous across tuple boundaries, so ("ab","c") and
    // ("a","bc") sort as distinct keys -- a separator-free concat would
    // collide them and the deterministic group order this sort exists for
    // would not be delivered.
    //
    // When the scan REPORTS ordering ([[provenOrdering]]), each group's
    // chunks must be laid out in that order: files by ascending sort-key
    // min (chains are disjoint, so min order IS the run order), split
    // chunks of one file by offset. Without a reported ordering the
    // arrangement is free.
    def arrange(files: Array[PartitionedFile]): Array[PartitionedFile] =
      provenOrdering match {
        case None => files
        case Some(cols) =>
          // the LEADING key's disjoint chains fix the run order; secondary
          // keys never reorder files (strict boundaries — see the proof)
          val (c, kind) = cols.head
          files.sortWith { (x, y) =>
            val px = x.filePath.toPath.toUri.getPath
            val py = y.filePath.toPath.toUri.getPath
            if (px == py) x.start < y.start
            else {
              val cm = graft.sink.StatsPruning.cmp(kind,
                filesByPath(px).stats(c).min, filesByPath(py).stats(c).min)
              if (cm != 0) cm < 0 else px < py
            }
          }
      }
    grouped.toSeq.sortBy(_._1.toSeq)(
      scala.math.Ordering.Implicits.seqOrdering[Seq, Option[String]])
      .zipWithIndex.map { case ((key, files), i) =>
        new KeyedFilePartition(i, arrange(files), info.keyRow(key)): InputPartition
      }.toArray
  }
}

/** Spark's ParquetScanBuilder with three twists: the built scan carries the
  * manifest (runtime file pruning); it reports the table's key-grouped
  * clustering when the snapshot is SPJ-eligible; and a pushed LIMIT /
  * ORDER-BY-LIMIT selects a provably-sufficient file subset from manifest
  * stats ([[TopNPruning]]) before a single byte is read. Aggregate-pushdown
  * scans (footer-served MIN/MAX/COUNT) bypass the wrap -- their output is
  * not row-grained and nothing joins on or runtime-filters it.
  */
final class SpjScanBuilder(sparkSession: org.apache.spark.sql.SparkSession,
                           fileIndex: org.apache.spark.sql.execution.datasources.PartitioningAwareFileIndex,
                           schema: StructType, dataSchema: StructType,
                           options: org.apache.spark.sql.util.CaseInsensitiveStringMap,
                           filesByPath: Map[String, graft.sink.DataFile],
                           info: Option[SpjSupport.Info],
                           streamRef: Option[(String, String)] = None,
                           statsRef: Option[(String, String)] = None,
                           bloomRef: Option[(String, String)] = None)
    extends ParquetScanBuilder(sparkSession, fileIndex, schema, dataSchema, options)
    with org.apache.spark.sql.connector.read.SupportsPushDownLimit
    with org.apache.spark.sql.connector.read.SupportsPushDownTopN {

  private var pushedK: Option[Int] = None
  private var pushedOrders: Option[Array[org.apache.spark.sql.connector.expressions.SortOrder]] = None

  // both pushes are PARTIAL: the scan only shrinks its file set; Spark keeps
  // the Limit / Sort+Limit on top and computes the exact answer
  override def pushLimit(limit: Int): Boolean = { pushedK = Some(limit); true }
  override def pushTopN(orders: Array[org.apache.spark.sql.connector.expressions.SortOrder],
                        limit: Int): Boolean = {
    pushedK = Some(limit); pushedOrders = Some(orders); true
  }
  override def isPartiallyPushed(): Boolean = true

  /** First sort key as (column, ascending, nullsFirst) when it is a bare
    * top-level column — the only shape manifest bounds can reason about.
    * Later keys only break ties inside the first key's threshold, which the
    * at-or-before-τ keep rule already covers.
    */
  private def orderSpec(orders: Array[org.apache.spark.sql.connector.expressions.SortOrder])
      : Option[(String, Boolean, Boolean)] =
    orders.headOption.flatMap { o =>
      o.expression() match {
        case nr: org.apache.spark.sql.connector.expressions.NamedReference
            if nr.fieldNames().length == 1 =>
          Some((nr.fieldNames()(0),
            o.direction() == org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING,
            o.nullOrdering() == org.apache.spark.sql.connector.expressions.NullOrdering.NULLS_FIRST))
        case _ => None
      }
    }

  override def build(): ParquetScan = {
    val base = super.build()
    if (base.pushedAggregate.isDefined) base
    else {
      // limit/top-k file selection is sound only over UNFILTERED scans: a
      // pushed filter makes per-file row counts overcount surviving rows
      val keep: Option[Set[String]] =
        if (base.pushedFilters.nonEmpty || base.partitionFilters.nonEmpty ||
            base.dataFilters.nonEmpty) None
        else pushedK.flatMap { k =>
          // TopNPruning speaks manifest entries; key them by the normalized
          // absolute paths the scan planner compares against
          val normFiles = filesByPath.toSeq.map { case (p, f) => f.copy(path = p) }
          pushedOrders match {
            case Some(orders) => orderSpec(orders).flatMap { case (c, asc, nf) =>
              TopNPruning.topNKeep(normFiles, c, asc, nf, k.toLong)
            }
            case None => TopNPruning.limitKeep(normFiles, k.toLong)
          }
        }
      (info, keep) match {
        // a Sort/Limit above the scan breaks key-grouped co-partitioning
        // anyway, so when the file selection applies it wins over SPJ
        case (Some(i), None) =>
          new KeyGroupedParquetScan(base, filesByPath, i, statsRef, bloomRef)
        case (_, k) =>
          new GraftParquetScan(base, filesByPath, streamRef, statsRef, k, bloomRef)
      }
    }
  }
}
