package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Z-order (Morton) data layout for multi-dimensional file pruning — the
  * lakehouse `OPTIMIZE ZORDER BY` analog over the graft warehouse's
  * manifest stats: interleave the bits of two rank-normalized columns and
  * partition + sort on the interleaved key, so every written file
  * covers a small RECTANGLE in (a, b) space instead of a thin full-width
  * stripe. Per-file min/max bounds (append's `statsCols`) then prune files
  * for predicates on EITHER or BOTH columns — single-column range
  * clustering only ever prunes its own column.
  *
  * Scale posture: normalization uses two scalar min/max aggregates (driver
  * metadata, the Warehouse.writeData pattern), the z-value is a flat
  * codegen'd bitwise expression, and the layout is one per-cell count
  * aggregate (bounded driver metadata) plus one shuffle — the cost of
  * single-column range clustering, whose sampling pass the count replaces.
  * The trade is documented and spec-measured: a 1-D predicate
  * on the leading column prunes somewhat better under plain range
  * clustering; any 2-D box prunes far better under z-order.
  */
object ZOrder {

  private val Bits = 16 // per-dimension resolution: 2^16 cells per axis

  /** Interleave the low `Bits` bits of two non-negative int columns:
    * bit i of `a` lands at position 2i+1, bit i of `b` at 2i (a is the
    * higher-order dimension). Flat fold of codegen'd bitwise ops.
    */
  def interleave(a: Column, b: Column): Column =
    (0 until Bits).foldLeft(lit(0L)) { (acc, i) =>
      acc
        .bitwiseOR(shiftleft(shiftright(a, i).bitwiseAND(lit(1)).cast("long"), 2 * i + 1))
        .bitwiseOR(shiftleft(shiftright(b, i).bitwiseAND(lit(1)).cast("long"), 2 * i))
    }

  /** Rank-normalize a numeric column to [0, 2^Bits) using its observed
    * min/max (two scalars — bounded driver metadata). Degenerate (constant)
    * columns map to 0.
    */
  private def normalized(df: DataFrame, c: String): Column = {
    val r = df.agg(min(col(c)).cast("double"), max(col(c)).cast("double")).head()
    val (lo, hi) = (r.getDouble(0), r.getDouble(1))
    if (hi <= lo) lit(0)
    else least(lit((1 << Bits) - 1),
      floor((col(c).cast("double") - lo) / (hi - lo) * ((1 << Bits) - 1)).cast("int"))
  }

  /** Finest cells the layout looks at: `LeafDepth` Morton levels below the
    * level with one cell per output file (up to 2^8 = 256 leaf cells per
    * file), so skewed data can still be split where it is dense.
    */
  private val LeafDepth = 8

  /** Lay `df` out z-ordered on (a, b) across `files` output partitions.
    * Feed the result to `Warehouse.append(..., statsCols = Seq(a, b))` —
    * each written file then carries tight rectangular (a, b) bounds.
    *
    * Every output is exactly one Morton cell: a per-cell row count (one
    * small aggregate, at most 256·`files` groups) drives a driver-side
    * split of the curve that never cuts a cell, and each row goes straight
    * to its cell's output. A sampled range partitioner could put a file
    * boundary a few rows into a cell, and that file's bounds would then
    * span two cells. Outputs number exactly `files` unless the data has
    * fewer non-empty leaf cells than that; a single leaf cell is never
    * split, so a hot leaf lands in one file.
    */
  def layout(df: DataFrame, a: String, b: String, files: Int): DataFrame = {
    val zd = df.withColumn("__z", interleave(normalized(df, a), normalized(df, b)))
    val levels = 32 - Integer.numberOfLeadingZeros(math.max(1, files - 1))
    val leafBits = math.min(2 * Bits, levels + LeafDepth)
    val leaf = shiftright(col("__z"), 2 * Bits - leafBits)
    val hist = zd.groupBy(leaf.as("leaf")).count().collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toIndexedSeq
    val starts = cellStarts(hist, files, leafBits)
    zd.repartitionById(starts.size, outputOf(leaf, starts, 0, starts.size))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
  }

  /** First leaf of each output, ascending. `hist` holds the non-empty leaf
    * cells (id, rows) in curve order. Outputs are handed out top-down: a
    * cell with k outputs gives each of its two half-cells a share
    * proportional to its rows (at least one for a non-empty half, at most
    * one per non-empty leaf under it), and a cell with one output is
    * written whole.
    */
  private def cellStarts(hist: IndexedSeq[(Long, Long)], files: Int,
                         leafBits: Int): IndexedSeq[Long] = {
    val ids = hist.map(_._1)
    val rowsBefore = hist.scanLeft(0L)(_ + _._2)
    val out = IndexedSeq.newBuilder[Long]
    // hist(lo until hi) are the non-empty leaves of one cell `depth` levels down
    def split(lo: Int, hi: Int, depth: Int, k: Int): Unit =
      if (k == 1) out += ids(lo)
      else {
        // the cell's upper half starts at its prefix with the next bit set
        val bit = 1L << (leafBits - 1 - depth)
        val mid = ids.search((ids(lo) & ~((bit << 1) - 1)) | bit, lo, hi).insertionPoint
        if (mid == lo || mid == hi) split(lo, hi, depth + 1, k)
        else {
          val share = k.toDouble * (rowsBefore(mid) - rowsBefore(lo)) /
            (rowsBefore(hi) - rowsBefore(lo))
          val kLow = math.max(math.max(1, k - (hi - mid)),
            math.min(math.min(mid - lo, k - 1), math.round(share).toInt))
          split(lo, mid, depth + 1, kLow)
          split(mid, hi, depth + 1, k - kLow)
        }
      }
    split(0, hist.size, 0, math.min(files, hist.size))
    out.result()
  }

  /** Output id of a leaf: a balanced comparison tree over `starts`. */
  private def outputOf(leaf: Column, starts: IndexedSeq[Long], lo: Int, hi: Int): Column =
    if (hi - lo <= 1) lit(lo)
    else {
      val mid = (lo + hi) / 2
      when(leaf < starts(mid), outputOf(leaf, starts, lo, mid))
        .otherwise(outputOf(leaf, starts, mid, hi))
    }
}
