import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import graft.sink.{SearchIndexIngest, Warehouse}

val out = sys.env("R20_OUT")
val side = sys.env("R20_SIDE")
val root = java.nio.file.Files.createTempDirectory("r20-wh").toString
val wh = new Warehouse(spark, root)
val helper = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
def files(df: DataFrame): Set[String] =
  helper.collectWithSubqueries(df.queryExecution.executedPlan) {
    case b: BatchScanExec => b.inputPartitions.flatMap {
      case fp: FilePartition => fp.files.map(_.filePath.toString).toSeq
      case _ => Nil }
    case f: FileSourceScanExec => f.relation.location.inputFiles.toSeq
  }.flatten.toSet.map((p: String) => p.substring(p.lastIndexOf('/') + 1))
def capture(name: String, table: String, df: DataFrame): Unit = {
  val rows = df.collect().length
  val live = wh.dataFiles(table).map(f => f.path.substring(f.path.lastIndexOf('/') + 1)).toSet
  val read = files(df) & live
  val text = s"# $name ($side)\n# rows returned: $rows\n" +
    s"# data files scanned: ${read.size} of ${live.size} live files of $table\n\n" +
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))
  java.nio.file.Files.writeString(java.nio.file.Paths.get(out, s"${name}_$side.txt"), text)
}

// 1. a load(...).filter point lookup over four range-clustered files
for (b <- 0 until 4)
  wh.append("t", spark.range(b * 1000L, b * 1000L + 1000L)
    .select(col("id").as("k"), (col("id") * 7).as("v")), statsCols = Seq("k"), clusterBy = Seq("k"))
capture("load_filter_point_lookup", "t", wh.load("t").filter(col("k") === 2500L))

// 2. probePostings: three ingests with disjoint term ranges
val ing = new SearchIndexIngest(wh, "doc_id", "text")
def docs(rows: (Long, String)*) = rows.toSeq.toDF("doc_id", "text")
ing.ingest("c", docs(1L -> "apple avocado apricot", 2L -> "banana berry basil"))
ing.ingest("c", docs(3L -> "mango melon mint", 4L -> "nectarine nutmeg noodle"))
ing.ingest("c", docs(5L -> "yam yuzu zucchini", 6L -> "walnut wasabi wheat"))
val probe = ing.getClass.getMethods.find(_.getName == "probePostings").get
  .invoke(ing, "c", Seq("mango", "mint")).asInstanceOf[DataFrame]
capture("probe_postings", "c__postings", probe)

// 3. the ChangesTable scoped catch-up window: a consumer with no history
//    stages loadVersion(t, e) + "+I", filtered by its scope predicate
val e = wh.currentVersion("t")
capture("changes_scoped_catchup", "t",
  wh.loadVersion("t", e).withColumn("_change_type", lit("+I")).where("(k < 500L)"))
System.exit(0)
