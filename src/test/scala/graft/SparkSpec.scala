package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites (one JVM-wide session, lazy). */
object TestSpark {
  // Verify/Bench's session shape (GraftSession): the whole suite exercises
  // the patched FS, which is the behavioral-equivalence evidence for it
  lazy val spark: SparkSession = GraftSession.builder(4).appName("graft-test").getOrCreate()
  spark.sparkContext.setLogLevel("WARN")
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  lazy val sf = "/root/testdata/sf0.001"

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** File count of the pruned warehouse scan in `q`'s EXECUTED plan — the
    * GraftTable name carries a `[k files]` label only when file pruning
    * fired (logical catalog relations print the catalog identifier
    * instead, so only the executed plan shows it). Falls back to `total`
    * when no label is present.
    */
  def scannedFiles(q: org.apache.spark.sql.DataFrame, total: Int): Int = {
    val s = q.queryExecution.executedPlan.toString
    "\\[(\\d+) files\\]".r.findFirstMatchIn(s).map(_.group(1).toInt).getOrElse(total)
  }

  /** Paths of the data files `q`'s executed plan scans, through adaptive
    * stages and subqueries: the `FilePartition`s of every DSv2 batch scan
    * (catalog and `Warehouse.load` reads) plus the file index of every v1
    * file-source scan. `Dataset.inputFiles` sees only v2 scans over a
    * `FileTable`, so it reports no file at all for a warehouse relation.
    */
  def filesScanned(q: org.apache.spark.sql.DataFrame): Set[String] = {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.datasources.FilePartition
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val helper = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
    helper.collectWithSubqueries(q.queryExecution.executedPlan) {
      case b: BatchScanExec => b.inputPartitions.flatMap {
        case fp: FilePartition => fp.files.map(_.filePath.toString).toSeq
        case _ => Nil
      }
      case f: FileSourceScanExec => f.relation.location.inputFiles.toSeq
    }.flatten.toSet
  }

  /** Spark jobs `body` starts on this thread (its own job group), counted
    * once the listener bus has delivered every event.
    */
  def sparkJobs(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val group = s"count-jobs-${System.nanoTime()}"
    val n = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group)
          n.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, group)
    try body
    finally {
      sc.clearJobGroup()
      org.apache.spark.graft.ListenerBus.drain(sc)
      sc.removeSparkListener(listener)
    }
    n.get
  }
}
