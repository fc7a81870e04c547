package perfbench

import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

/** What an executed plan read: its scan nodes (through adaptive query
  * stages), the data files they opened, and the rows they produced.
  */
object Plans extends AdaptiveSparkPlanHelper {
  def scans(plan: SparkPlan): Seq[SparkPlan] = collectWithSubqueries(plan) {
    case s: BatchScanExec => s
    case s: FileSourceScanExec => s
  }

  private def fileName(p: String): String = p.substring(p.lastIndexOf('/') + 1)

  /** File names opened by the plan's scans. */
  def filesRead(plan: SparkPlan): Set[String] = scans(plan).flatMap {
    case b: BatchScanExec => b.inputPartitions.flatMap {
      case fp: FilePartition => fp.files.map(f => fileName(f.filePath.toString))
      case _ => Nil
    }
    case f: FileSourceScanExec => f.relation.location.inputFiles.map(fileName).toSeq
    case _ => Nil
  }.toSet

  /** Rows output by the plan's scans (their `numOutputRows` metrics). */
  def rowsScanned(plan: SparkPlan): Long =
    scans(plan).flatMap(_.metrics.get("numOutputRows")).map(_.value).sum
}
