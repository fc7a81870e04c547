package graft.sink

import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.schema.SchemaOps

/** Snapshot change feeds: file-grain added-files, the exact row-level
  * +I/-D changelog (Iceberg changelog-scan analog), and the two-full-scan
  * arbiter.
  *
  * One of [[Warehouse]]'s section traits — a pure textual split of the
  * original single file (unchanged public face, same `private[sink]`
  * surface); the self-type is the class itself, so every member reads as
  * before.
  */
private[sink] trait WarehouseChangeFeed { self: Warehouse =>

  /** Change feed, file grain: the data files snapshot `toVersion` references
    * that `fromVersion` does not — for appends this IS the set of ingested
    * batches (manifests share unchanged files by path), so an incremental
    * consumer reads O(new data), never rescanning the table. Merge/compact
    * commits rewrite files, so their "added" files also carry surviving old
    * rows — file-grain CDC is a SUPERSET of the row-level change set there
    * (the Iceberg incremental-scan caveat); use [[diffRows]] when exact row
    * changes are worth a two-snapshot comparison.
    */
  def addedFiles(name: String, fromVersion: Long, toVersion: Long): Seq[DataFile] = {
    val before = manifestAt(name, fromVersion).files.map(_.path).toSet
    manifestAt(name, toVersion).files.filterNot(f => before(f.path))
  }

  /** Scan only the files [[addedFiles]] reports — the incremental-consumer
    * read path. Empty diff ⇒ empty frame with the snapshot schema.
    * File-grain, so rows a pending MOR equality delete in the window
    * removed are still reported (the same documented superset caveat as
    * rewrites); [[readChanges]] is the exact path at the same O(changed
    * files) cost, [[diffRows]] the exact two-full-scan arbiter.
    */
  def readAdded(name: String, fromVersion: Long, toVersion: Long): DataFrame = {
    val m = manifestAt(name, toVersion)
    val paths = addedFiles(name, fromVersion, toVersion).map(f => resolvePath(name, f.path))
    if (paths.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], m.schema)
    else spark.read.schema(m.schema).parquet(paths: _*)
  }

  /** Exact row-level diff between two snapshots: (added, removed) as
    * bag-semantics EXCEPT ALL in each direction. Costs two full snapshot
    * scans — correct across merges/compactions where [[readAdded]]
    * over-reports; reserve it for when exactness matters.
    */
  def diffRows(name: String, fromVersion: Long, toVersion: Long): (DataFrame, DataFrame) = {
    // direct manifest reads, like readChanges: the variant proxy below is
    // `to_json(<variant column>)`, which Spark 4.1.2's DSv2 variant
    // pushdown cannot plan over a GraftTable scan (an unresolved attribute
    // reaches column pruning); the v1 parquet scan plans it
    val from = morFrame(name, manifestAt(name, fromVersion))
    val to = morFrame(name, manifestAt(name, toVersion))
    // per-side variant column names: a variant column RENAMED in the window
    // is the same field id at the same position under a new label, and
    // exceptAll resolves positionally — proxying the from side with the
    // to side's names would instead ADD a column there (withColumn on a
    // missing name) and fail analysis on arity
    val vcolsTo = variantColsOf(manifestAt(name, toVersion).schema)
    val vcolsFrom = variantColsOf(manifestAt(name, fromVersion).schema)
    (variantRestore(variantProxy(to, vcolsTo).exceptAll(variantProxy(from, vcolsFrom)), vcolsTo),
     variantRestore(variantProxy(from, vcolsFrom).exceptAll(variantProxy(to, vcolsTo)), vcolsFrom))
  }

  // ---- VARIANT columns in set operations: Spark refuses EXCEPT/INTERSECT
  // on variant, so the bag algebra runs over each variant column's
  // canonical JSON text (`to_json` — quoted strings, so a variant string
  // "5" and a variant number 5 stay DISTINCT) and the emitted feed
  // restores the value with `parse_json`. Exact for JSON-native values —
  // which is everything the parse_json ingest face ever stores; a
  // variant-native timestamp/binary (constructible via cast) restores as
  // its JSON render, the same caveat as any JSON-transport CDC.
  //
  // Re-tested 2026-08-16 on the 4.1.2 pin: EXCEPT/INTERSECT/DISTINCT all
  // still raise UNSUPPORTED_FEATURE.SET_OPERATION_ON_VARIANT_TYPE, so the
  // proxy stays. The eventual replacement, once Spark compares variants in
  // set ops (or exposes a stable binary order): bag-diff directly on the
  // shredded leaves' BINARY encoding (`variant` parquet value+metadata
  // byte pair), which is render-free and preserves variant-native types —
  // but its equality is ENCODING equality, so it must normalize field
  // order/dictionary ids first or logically-equal objects diff as changes.
  // The to_json proxy costs O(changed rows) renders per window today,
  // which benchmarks below the readChanges join work — not the bottleneck.
  private[sink] def variantColsOf(schema: StructType): Seq[String] =
    schema.fields.filter(_.dataType.isInstanceOf[VariantType]).map(_.name).toSeq
  private[sink] def variantProxy(df: DataFrame, vcols: Seq[String]): DataFrame =
    vcols.foldLeft(df)((d, c) => d.withColumn(c, to_json(col(c))))
  // restore via from_json(..., 'variant'), NOT parse_json: Spark 4.1.2's
  // PushVariantIntoScan traces a `variant_get(parse_json(to_json(scan
  // col)), path)` chain THROUGH the bag aggregate as if the pair were
  // identity, rewrites the scan to serve only the extracted path, and the
  // feed then bags on (and restores from) the extraction instead of the
  // row — nulls out consumers and collapses rows equal on that path.
  // JsonToStructs is outside that rule's traced shapes, same semantics.
  private[sink] def variantRestore(df: DataFrame, vcols: Seq[String]): DataFrame =
    vcols.foldLeft(df)((d, c) => d.withColumn(c, from_json(col(c), VariantType)))

  /** Exact row-level change feed between two snapshots at O(changed files)
    * cost — the Iceberg changelog-scan analog, closing the gap between
    * [[readAdded]] (cheap but a superset across rewrites/window deletes) and
    * [[diffRows]] (exact but two full snapshot scans). Emits the `toVersion`
    * columns plus `_change_type`: `+I` for rows in `toVersion` but not
    * `fromVersion`, `-D` for the reverse — bag semantics, so an update
    * surfaces as its old row `-D` plus its new row `+I`.
    *
    * Equal to [[diffRows]] by bag arithmetic: manifests share unchanged
    * files BY PATH (files are immutable), and a shared file contributes the
    * SAME rows to both snapshots unless an equality delete committed in the
    * window applies to it — so in `S_to exceptAll S_from` every such
    * contribution cancels term-for-term. What remains is exactly (a) files
    * present in only one manifest (appended, or rewritten by
    * merge/compact — the rewrite's carry-over rows cancel in the exceptAll
    * against their removed source files) and (b) shared files whose
    * applicable delete-file sets differ, and then only when some differing
    * delete is not provably [[statsDisjoint]]. Only those files are read;
    * at 100 TB an incremental consumer pays for its changes, never the
    * table.
    *
    * Schema evolution: a column added in the window reads as null for
    * from-side rows (matching what the evolved scan itself yields for
    * pre-evolution files); a RENAMED column is the same field id relabeled
    * and diffs by value under its new name; a DROPPED column projects away
    * (rows differing only there collapse, the to-schema's semantics); a
    * retyped column refuses loudly rather than fabricating a diff.
    */
  def readChanges(name: String, fromVersion: Long, toVersion: Long): DataFrame =
    readChangesImpl(name, fromVersion, toVersion, lineage = false)

  /** [[readChanges]] SCOPED to a consumer predicate — the scoped-replication
    * shape (`SELECT ... FROM t$changes WHERE key ...`): window planning
    * prunes BOTH side's manifests with the delete-aware segment skip
    * ([[Manifest.readPruned]] — a delete-delta segment whose key bounds are
    * disjoint from `cond` never parses), then drops per-file every data
    * file and every equality-delete file whose recorded bounds refute
    * `cond`. O(matching segments) planning instead of two full manifest
    * replays, and the bag diff runs over the matching slice only.
    *
    * CONTRACT: rows satisfying `cond` are emitted exactly as the unscoped
    * feed would emit them (conservative mayMatch — every file that can
    * hold or delete a matching row survives, symmetric on both sides).
    * Rows NOT satisfying `cond` may be missing or carry no guarantee —
    * the caller MUST re-apply `cond` (the `t$changes` face keeps the
    * consumer's filter above the scan, so this holds by construction).
    * Sound only for the plain `+I`/`-D` label algebra: update-image
    * pairing and lineage relabeling decide labels from BOTH rows of a
    * pair, and scoping can drop the half that fails `cond` — those faces
    * never scope.
    */
  def readChangesScoped(name: String, fromVersion: Long, toVersion: Long,
                        cond: org.apache.spark.sql.catalyst.expressions.Expression): DataFrame =
    readChangesImpl(name, fromVersion, toVersion, lineage = false, scope = Some(cond))

  /** [[readChanges]] with ROW LINEAGE: every change row carries `_row_id` /
    * `_last_updated_version` (the Iceberg v3 changelog-with-lineage shape).
    * The bags come from [[lineageFrame]] instead of the plain MOR frame, so
    * the same cancellation algebra applies — content-preserving rewrites
    * carry id AND version per row and cancel term-for-term; a row whose
    * version changed (an in-place [[Warehouse.updateWhere]]) surfaces as
    * `-D` old image / `+I` new image SHARING the id. With
    * `pairUpdates = true` an id netting exactly one `-D` and one `+I`
    * relabels as `-U`/`+U` — update pre/post-images paired by IDENTITY, no
    * user-declared key columns, immune to column renames (ids are not
    * names). Merge-family upserts replace matched rows with INCOMING
    * versions that draw FRESH ids (the engine's documented merge posture),
    * so those report as genuine `-D`+`+I`, exactly what the lineage says.
    * Requires every file in the window to carry assigned id ranges.
    */
  def readChangesLineage(name: String, fromVersion: Long, toVersion: Long,
                         pairUpdates: Boolean = false): DataFrame = {
    val base = readChangesImpl(name, fromVersion, toVersion, lineage = true)
    if (!pairUpdates) base
    else pairImages(name, base, Seq("_row_id"))
  }

  /** Relabel update images: rows of `base` whose non-null `ids` net exactly
    * one `-D` and one `+I` become `-U` / `+U`; every other row keeps its
    * label. One keyed window over the changed rows.
    */
  private def pairImages(name: String, base: DataFrame, ids: Seq[String]): DataFrame = {
    Seq("__cdc_d", "__cdc_i").foreach(r => require(!base.columns.contains(r),
      s"$name: column name $r is reserved by the change feed"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(ids.map(col): _*)
    val nonNull = ids.map(col(_).isNotNull).reduce(_ && _)
    base
      .withColumn("__cdc_d", sum(when(col("_change_type") === "-D", 1).otherwise(0)).over(w))
      .withColumn("__cdc_i", sum(when(col("_change_type") === "+I", 1).otherwise(0)).over(w))
      .withColumn("_change_type",
        when(nonNull && col("__cdc_d") === 1 && col("__cdc_i") === 1,
          when(col("_change_type") === "-D", lit("-U")).otherwise(lit("+U")))
          .otherwise(col("_change_type")))
      .drop("__cdc_d", "__cdc_i")
  }

  private def readChangesImpl(name: String, fromVersion: Long, toVersion: Long,
                              lineage: Boolean,
                              scope: Option[org.apache.spark.sql.catalyst.expressions.Expression]
                                = None): DataFrame = {
    // scoped planning ([[readChangesScoped]] contract): segment-pruned
    // manifest loads (delete-aware) + per-file refutation, both sides
    // through the SAME conservative mayMatch so shared files stay symmetric
    def manifestFor(v: Long): Manifest = scope match {
      case None => manifestAt(name, v)
      case Some(cond) => manifestPruned(name, Some(v), s =>
        graft.catalog.ManifestPruneRule.mayMatch(DataFile("", s.rows, s.stats), cond))._1
    }
    def fileMay(f: DataFile): Boolean = scope.forall(
      graft.catalog.ManifestPruneRule.mayMatch(f, _))
    def delMay(d: DeleteFile): Boolean = scope.forall(cond =>
      d.kind != "eq" ||
        graft.catalog.ManifestPruneRule.mayMatch(DataFile("", d.rows, d.stats), cond))
    val mFrom0 = manifestFor(fromVersion)
    val mTo0 = manifestFor(toVersion)
    val mFrom = mFrom0.copy(files = mFrom0.files.filter(fileMay),
      deletes = mFrom0.deletes.filter(delMay))
    val mTo = mTo0.copy(files = mTo0.files.filter(fileMay),
      deletes = mTo0.deletes.filter(delMay))
    // field correspondence across the window: BY ID when both schemas carry
    // field ids (so a rename is the same field relabeled and a reused NAME
    // is a different field), by name otherwise. A matched pair must keep
    // its type (retype refuses); a from-field with no counterpart was
    // DROPPED and projects away (rows differing only there collapse — the
    // to-schema's own semantics); a to-field with no counterpart was added
    // and null-fills on the from side.
    val bothIds = hasFieldIds(mFrom.schema) && hasFieldIds(mTo.schema)
    val fromById = mFrom.schema.fields.flatMap(f => fieldIdOf(f).map(_ -> f)).toMap
    def fromFieldFor(g: StructField): Option[StructField] =
      if (bothIds) fieldIdOf(g).flatMap(fromById.get)
      else mFrom.schema.fields.find(_.name == g.name)
    mTo.schema.fields.foreach { g =>
      fromFieldFor(g).foreach(f =>
        require(f.dataType == g.dataType,
          s"readChanges across a destructive schema change on '${g.name}' is unsupported"))
    }
    val fromByPath = mFrom.files.map(f => f.path -> f).toMap
    val toPaths = mTo.files.map(_.path).toSet
    val added = mTo.files.filterNot(f => fromByPath.contains(f.path))
    val removed = mFrom.files.filterNot(f => toPaths.contains(f.path))
    // shared files a window delete-delta could actually touch: applicable
    // delete sets differ AND some differing delete overlaps by stats
    val affected = mTo.files.filter { f =>
      fromByPath.contains(f.path) && {
        val dTo = mTo.deletes.filter(_.seq > f.seq)
        val dFrom = mFrom.deletes.filter(_.seq > fromByPath(f.path).seq)
        val toP = dTo.map(_.path).toSet
        val fromP = dFrom.map(_.path).toSet
        (dTo.filterNot(d => fromP(d.path)) ++ dFrom.filterNot(d => toP(d.path)))
          .exists(d => !statsDisjoint(f, d))
      }
    }
    val toSubset = Manifest(mTo.schema, added ++ affected, mTo.deletes)
    val fromSubset = Manifest(mFrom.schema,
      removed ++ affected.map(f => fromByPath(f.path)), mFrom.deletes)
    if (lineage) {
      val bad = (toSubset.files ++ fromSubset.files).count(_.firstRowId < 0)
      require(bad == 0,
        s"$name: $bad changed data file(s) in window ($fromVersion, $toVersion] " +
          "predate row lineage — make any commit (an append, or CALL " +
          "graft.system.rewrite_manifests) to adopt ids, then retry")
    }
    def frame(m: Manifest) =
      if (lineage) lineageFrame(name, m) else morFrame(name, m)
    val lineageCols = if (lineage) Seq("_row_id", "_last_updated_version") else Nil
    val changedTo = frame(toSubset)
    val fromRaw = frame(fromSubset)
    val changedFrom = fromRaw.select(mTo.schema.fields.toSeq.map { g =>
      fromFieldFor(g) match {
        case Some(f) => col(f.name).as(g.name)
        case None    => lit(null).cast(g.dataType).as(g.name)
      }
    } ++ lineageCols.map(col): _*)
    // variant columns bag by canonical JSON text (set ops refuse variant),
    // restored to variant on the emitted feed — variantProxy scaladoc
    val vcols = variantColsOf(mTo.schema)
    val bagTo = variantProxy(changedTo, vcols)
    val bagFrom = variantProxy(changedFrom, vcols)
    // ONE signed-bag aggregate instead of the exceptAll pair: the pair's
    // two legs each reference BOTH sides, so every changed file's MOR scan
    // ran twice and the all-columns hash aggregate ran twice. The net
    // multiplicity n = count_to - count_from gives both directions at once
    // (to exceptAll from = max(n,0) copies, the reverse = max(-n,0)), so
    // one union + one aggregate + one replicate emits the identical bag —
    // same all-column grouping (and float-key normalization) Spark's own
    // RewriteExceptAll uses, half the scans and shuffles per window.
    val outCols = bagTo.columns.toSeq
    // reserved-name guard (same discipline as [[Warehouse.cluster]]'s
    // __graft_p check): a table column with an internal tag's name would
    // be overwritten by the tag and corrupt the grouping silently
    Seq("__cdc_sgn", "__cdc_n").foreach(r => require(!outCols.contains(r),
      s"$name: column name $r is reserved by the change feed"))
    val net = bagTo.withColumn("__cdc_sgn", lit(1L))
      .unionByName(bagFrom.withColumn("__cdc_sgn", lit(-1L)))
      .groupBy(outCols.map(col): _*)
      .agg(sum(col("__cdc_sgn")).as("__cdc_n"))
      .filter(col("__cdc_n") =!= 0L)
    // replicate by |net| via the STREAMING generator Spark's own
    // RewriteExceptAll lowers to (one output row at a time) — the earlier
    // explode(sequence(1, |n|)) materialized an n-element long array per
    // netted row, which a heavily duplicated table could push past
    // sequence's array cap (or OOM) where the exceptAll pair never did
    val labeled = net.withColumn("_change_type",
      when(col("__cdc_n") > 0L, lit("+I")).otherwise(lit("-D")))
    val genCols = outCols :+ "_change_type"
    import org.apache.spark.sql.graft.ColumnBridge
    val gen = org.apache.spark.sql.catalyst.expressions.ReplicateRows(
      ColumnBridge.expression(abs(col("__cdc_n"))) +:
        genCols.map(c => ColumnBridge.expression(col(c))))
    variantRestore(
      labeled.select(ColumnBridge.column(gen)).toDF(genCols: _*),
      vcols)
  }

  /** [[readChanges]] with UPDATE PRE/POST-IMAGES — `_change_type` ∈
    * {`+I`, `-D`, `-U`, `+U`}: a key whose old row leaves and new row
    * arrives within the window emits the pair as `-U` (pre-image) / `+U`
    * (post-image) instead of an indistinguishable delete+insert — the
    * Delta CDF `update_preimage`/`update_postimage` and Iceberg changelog
    * UPDATE_BEFORE/AFTER contract. A downstream replicator applying a
    * merge-shaped feed (the reference's merge disposition,
    * `salesforce_pipeline.py:83-134`) needs exactly this to tell "the row
    * changed" from "a row died and an unrelated one was born".
    *
    * Pairing identity: `identifierCols` when given; otherwise INFERRED
    * from the window's own committed equality-delete entries (morMerge and
    * equalityDelete both record their key columns there — O(window
    * commits) manifest metadata, zero data IO). No keyed commit in the
    * window ⇒ nothing is update-shaped ⇒ the plain `+I`/`-D` feed returns
    * unchanged; two DIFFERENT key sets in one window refuse loudly (pass
    * `identifierCols`). A key pairs exactly when the window nets ONE `-D`
    * and ONE `+I` for it and every key column is non-null (null keys never
    * match — the merge contract); everything else keeps its plain label.
    * Bag-level consequence, documented: a genuine delete+re-insert of the
    * same key within one window is indistinguishable from an update at
    * the net level and reports as one (Iceberg's net-changes semantics).
    * Cost on top of [[readChanges]]: one keyed shuffle over O(changed
    * rows) — never the table.
    */
  def readChangesWithImages(name: String, fromVersion: Long, toVersion: Long,
                            identifierCols: Seq[String] = Nil): DataFrame = {
    val base = readChanges(name, fromVersion, toVersion)
    val mTo = manifestAt(name, toVersion)
    val keys: Seq[String] =
      if (identifierCols.nonEmpty) {
        val missing = identifierCols.filterNot(mTo.schema.fieldNames.contains)
        require(missing.isEmpty,
          s"identifier column(s) not in $name's schema: ${missing.mkString(", ")}")
        identifierCols
      } else {
        val sets = ((fromVersion max 0L) + 1 to toVersion).iterator
          .flatMap(v => manifestAt(name, v).deletes
            .filter(d => d.seq == v && d.kind == "eq").map(_.cols))
          .toSeq.distinct
        if (sets.isEmpty) return base
        require(sets.size == 1,
          s"ambiguous update identity: the window committed deletes keyed by " +
            s"${sets.map(_.mkString("(", ",", ")")).mkString(" and ")} — pass " +
            "identifier columns explicitly")
        sets.head
      }
    pairImages(name, base, keys)
  }

  /** Files commit `v` CHANGED — data paths added or removed plus delete
    * entries added — the read-cost driver of a CDC window, powering
    * `t$changes` streaming admission control. O(the commit's delta):
    * consecutive v2 roots carry their base's lines, so the count is a
    * root-line diff plus one cached segment read
    * ([[Manifest.changedEntryCount]]); only a coalesced/rewritten commit
    * (or v0 / expired base) falls back to replaying both manifests —
    * without the fast path, draining a K-commit backlog over an F-file
    * table cost O(K·F) driver metadata work. Zero data IO either way.
    */
  def commitChangedEntryCount(name: String, v: Long): Int = {
    // v == 0 diffs against NOTHING: every entry of the first snapshot is
    // "changed". O(v0 entries) by construction — the same cost class as
    // the fast line-diff, so it does NOT count as a full-diff fallback
    // (admission charging the opening commit must not read as O(table)).
    if (v == 0) {
      val cur = manifestAt(name, 0)
      return cur.files.size + cur.deletes.size
    }
    val fast =
      if (v <= 0) None
      else {
        val base = manifestPath(name, v - 1)
        if (!Files.exists(base)) None
        else Manifest.changedEntryCount(manifestPath(name, v), base)
      }
    fast.getOrElse {
      Warehouse.changeCountFullDiffs.incrementAndGet()
      val cur = manifestAt(name, v)
      val prev = if (v == 0) Manifest(cur.schema, Nil, Nil)
                 else manifestAt(name, v - 1)
      val prevPaths = prev.files.map(_.path).toSet
      val curPaths = cur.files.map(_.path).toSet
      val added = curPaths.count(!prevPaths(_))
      val removed = prevPaths.count(!curPaths(_))
      val newDeletes = (cur.deletes.map(_.path).toSet -- prev.deletes.map(_.path)).size
      added + removed + newDeletes
    }
  }

  /** Sweep staged `t$changes` window dirs — `_cdc/w<s>_<e>…` published
    * windows AND crashed stagers' `tmp-*` leftovers — older than
    * `olderThanMs`. Returns the number of directories removed.
    *
    * The ONE stage janitor, shared by all three faces: streaming consumers
    * sweep on offset commit, [[expireSnapshots]] backstops on expiry, and
    * `CALL graft.system.expire_cdc_stages` hands it to batch-only
    * consumers who never do either. Age-gated (never offset-gated) so a
    * second, slower consumer replaying the same window is never broken;
    * a swept window a reader still wants simply re-materializes (snapshots
    * are immutable, the bag is deterministic) — the sweep can delay,
    * never break, a slow reader.
    */
  def expireCdcStages(name: String, olderThanMs: Long = 24L * 3600 * 1000L): Int = {
    val cdc = tableDir(splitRef(name)._1).resolve("_cdc")
    if (!Files.isDirectory(cdc)) return 0
    val now = System.currentTimeMillis()
    val cutoff = now - olderThanMs
    // tmp-* dirs may be a CONCURRENT stager's in-flight write: an aggressive
    // olderThanMs (a zero-age manual CALL) must not delete one mid-write and
    // fail its ATOMIC_MOVE publish — tmp entries keep a minimum age floor
    // regardless of the requested retention. Published windows (w*) have no
    // floor: a swept window a reader still wants re-materializes.
    val tmpCutoff = math.min(cutoff, now - TmpStageMinAgeMs)
    val swept = io.list(cdc).filter { p =>
      val n = p.getFileName.toString
      val cut = if (n.startsWith("tmp-")) tmpCutoff else cutoff
      (n.startsWith("w") || n.startsWith("tmp-")) && Files.getLastModifiedTime(p).toMillis < cut
    }
    swept.foreach(io.deleteTree)
    swept.size
  }

  /** Minimum age before a crashed-stager `tmp-*` dir is sweepable — longer
    * than any plausible in-flight window write, far shorter than a real
    * leak mattering.
    */
  private[sink] val TmpStageMinAgeMs: Long = 10L * 60 * 1000
}
