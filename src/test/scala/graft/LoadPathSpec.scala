package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sink.Warehouse

/** One read path: `Warehouse.load` / `loadVersion` / `loadTag` plan the
  * catalog's `GraftTable` relation, so a programmatic read scans exactly
  * the files, and returns exactly the rows, of the same read through SQL —
  * file pruning (stats and bloom sidecars), the MOR splice, snapshot
  * pinning and time travel on main and on branches included.
  */
class LoadPathSpec extends SparkSpec {
  import scala.jdk.CollectionConverters._

  private val schema = StructType(Seq(
    StructField("k", LongType), StructField("h", StringType), StructField("v", LongType)))

  private def rows(ks: Seq[Long]): DataFrame =
    spark.createDataFrame(ks.map(k => Row(k, null, k * 10)).asJava, schema)
      .withColumn("h", md5(col("k").cast("string")))

  private def md5Of(k: Long): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(k.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** A warehouse with table `t`: four appends of disjoint `k` ranges
    * (one range-clustered file each, stats on `k` and `h`) and a bloom
    * sidecar per file on `h`, registered as catalog `cat`.
    */
  private def fixture(cat: String): Warehouse = {
    val root = tmpDir(s"loadpath-$cat")
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[graft.catalog.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    val wh = new Warehouse(spark, root)
    for (b <- 0 until 4)
      wh.append("t", rows(b * 100L until b * 100L + 100L),
        statsCols = Seq("k", "h"), clusterBy = Seq("k"))
    assert(wh.dataFiles("t").size == 4)
    wh.buildBloomIndex("t", Seq("h"))
    wh
  }

  private def sorted(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  test("a filtered load scans the same files as the same SQL filter") {
    val wh = fixture("lpfiles")
    val all = filesScanned(wh.load("t"))
    assert(all.size == 4, s"an unfiltered load must scan every file, saw $all")
    assert(filesScanned(spark.sql("SELECT * FROM lpfiles.t")) == all)
    val shapes = Seq(
      "k = 150" -> (col("k") === 150L),
      "k IN (5, 350)" -> col("k").isin(5L, 350L),
      s"k IN (${(0L until 12L).mkString(", ")})" ->
        col("k").isin((0L until 12L): _*), // InSet after OptimizeIn
      s"h = '${md5Of(250L)}'" -> (col("h") === md5Of(250L))) // bloom, not range
    for ((sqlCond, apiCond) <- shapes) {
      val api = wh.load("t").filter(apiCond)
      val sql = spark.sql(s"SELECT * FROM lpfiles.t WHERE $sqlCond")
      val viaApi = filesScanned(api)
      assert(viaApi.nonEmpty && viaApi.size < all.size, s"$sqlCond: no pruning, read $viaApi")
      assert(viaApi == filesScanned(sql), s"$sqlCond: api and SQL scan different files")
      assert(sorted(api) == sorted(sql), s"$sqlCond: api and SQL rows differ")
    }
    // a key outside every file's range scans nothing
    assert(filesScanned(wh.load("t").filter(col("k") === 9999L)).isEmpty)
  }

  test("pending equality deletes and deletion vectors: load rows equal the SQL rows") {
    val wh = fixture("lpmor")
    wh.equalityDelete("t", spark.createDataFrame(
      Seq(Row(3L), Row(150L), Row(399L)).asJava, StructType(Seq(StructField("k", LongType)))))
    // keyed on the LAST column: the overlay's USING anti-join reorders its
    // output key-first, and the splice must still map every column by name
    wh.equalityDelete("t", spark.createDataFrame(
      Seq(Row(3000L)).asJava, StructType(Seq(StructField("v", LongType)))))
    wh.positionDelete("t", col("k").between(200L, 209L))
    val man = wh.currentManifest("t")
    assert(man.deletes.map(_.kind).toSet == Set("eq", "dv"), "both delete kinds must pend")
    val sql = spark.sql("SELECT * FROM lpmor.t")
    assert(wh.load("t").columns.toSeq == Seq("k", "h", "v"))
    assert(sorted(wh.load("t")) == sorted(sql))
    assert(wh.load("t").count() == 400L - 3L - 1L - 10L)
    assert(wh.load("t").count() == sql.count())
    // a filtered read splices the same overlay over the pruned files
    val api = wh.load("t").filter(col("k") < 220L)
    assert(sorted(api) == sorted(spark.sql("SELECT * FROM lpmor.t WHERE k < 220")))
    assert(api.count() == 220L - 2L - 10L)
    // an anti-join whose left side is an aggregate: Spark sizes the load
    // side for its broadcast check before the MOR splice
    val gone = spark.range(0L, 400L).select(col("id").as("k")).groupBy("k").count()
      .join(wh.load("t").select("k"), Seq("k"), "left_anti")
    assert(gone.select("k").collect().map(_.getLong(0)).toSeq.sorted ==
      (Seq(3L, 150L, 300L, 399L) ++ (200L to 209L)).sorted)
  }

  test("a load pins its snapshot: a later commit is invisible to that frame") {
    val wh = fixture("lppin")
    val df = wh.load("t")
    val filtered = wh.load("t").filter(col("k") >= 300L)
    assert(df.count() == 400L)
    wh.append("t", rows(400L until 450L), statsCols = Seq("k", "h"), clusterBy = Seq("k"))
    wh.equalityDelete("t", spark.createDataFrame(
      Seq(Row(1L)).asJava, StructType(Seq(StructField("k", LongType)))))
    assert(df.count() == 400L)
    assert(df.collect().length == 400)
    assert(filtered.count() == 100L)
    assert(wh.load("t").count() == 449L)
  }

  test("loadVersion, loadTag and branch reads equal VERSION AS OF") {
    val wh = fixture("lptt")
    val tagged = wh.currentVersion("t")
    wh.tagSnapshot("t", "four", tagged)
    wh.equalityDelete("t", spark.createDataFrame(
      Seq(Row(7L)).asJava, StructType(Seq(StructField("k", LongType)))))
    wh.append("t", rows(400L until 420L))
    for (v <- 0L to wh.currentVersion("t"))
      assert(sorted(wh.loadVersion("t", v)) ==
        sorted(spark.sql(s"SELECT * FROM lptt.t VERSION AS OF $v")), s"v$v differs")
    assert(sorted(wh.loadTag("t", "four")) ==
      sorted(spark.sql("SELECT * FROM lptt.t VERSION AS OF 'four'")))
    assert(wh.loadTag("t", "four").count() == 400L)
    // a branch forked at the tag, then moved on its own ledger
    wh.createBranch("t", "dev", tagged)
    wh.append("t@dev", rows(900L until 905L))
    wh.equalityDelete("t@dev", spark.createDataFrame(
      Seq(Row(901L)).asJava, StructType(Seq(StructField("k", LongType)))))
    for (v <- 0L to wh.currentVersion("t@dev"))
      assert(sorted(wh.loadVersion("t@dev", v)) ==
        sorted(spark.sql(s"SELECT * FROM lptt.`t@dev` VERSION AS OF $v")), s"dev v$v differs")
    assert(sorted(wh.load("t@dev")) == sorted(spark.sql("SELECT * FROM lptt.`t@dev`")))
    assert(wh.load("t@dev").count() == 404L)
    assert(wh.load("t").count() == 419L, "the branch never touches main")
  }
}
