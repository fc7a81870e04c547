package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class OraclesSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, String)] =
    df.collect().map(r => (r.getLong(0), r.getString(1))).toSet

  test("merge, append and replace expectations on a hand-checked history") {
    import spark.implicits._
    val base = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    val b1 = Seq((2L, "B"), (3L, "c")).toDF("k", "v")
    val b2 = Seq((1L, "A2")).toDF("k", "v")
    assert(rows(Oracles.lastWriterWins(Seq(base, b1, b2), Seq("k"))) ==
      Set((1L, "A2"), (2L, "B"), (3L, "c")))
    assert(Oracles.concat(Seq(base, b1, b2)).count() == 5)
    assert(rows(Oracles.lastBatch(Seq(base, b1, b2))) == Set((1L, "A2")))
  }

  test("sameRows is multiset equality, independent of column order and types") {
    import spark.implicits._
    val a = Seq((1L, "x"), (1L, "x"), (2L, "y")).toDF("k", "v")
    assert(Oracles.sameRows(a, Seq(("x", 1), ("y", 2), ("x", 1)).toDF("v", "k")))
    assert(!Oracles.sameRows(a, Seq((1L, "x"), (2L, "y"), (2L, "y")).toDF("k", "v")))
    assert(!Oracles.sameRows(a, Seq((1L, "x"), (2L, "y")).toDF("k", "v")))
    assert(!Oracles.sameRows(a, a.limit(0)) && !Oracles.sameRows(a.limit(0), a))
    assert(Oracles.sameRows(a.limit(0), a.limit(0)))
  }

  test("a change feed's signed net equals final minus initial") {
    import spark.implicits._
    val before = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    val after = Seq((1L, "a"), (2L, "b2"), (3L, "c")).toDF("k", "v")
    val feed = Seq((2L, "b", "-D"), (2L, "b2", "+I"), (3L, "c", "+I"),
      (4L, "d", "+I"), (4L, "d", "-D")).toDF("k", "v", "_change_type")
    val net = Oracles.signedNet(feed, Seq("k", "v"))
    assert(Oracles.sameRows(net, Oracles.diffNet(before, after, Seq("k", "v"))))
    assert(net.filter(col("k") === 4).isEmpty)
  }

  test("bm25 scores a two-document corpus as computed by hand") {
    import spark.implicits._
    val docs = Seq((1L, "spark join spark"), (2L, "join")).toDF("doc_id", "text")
    val r = Oracles.bm25(docs, "doc_id", "text", Seq("spark"), 10).collect()
    // n = 2, total_dl = 4, dl = 3, tf = 2, df = 1:
    // 2*2.2 / (2 + 1.2*(0.25 + 0.75*3*2/4)) * (2-1+0.5)/(1+0.5) = 4.4/3.65
    assert(r.length == 1)
    assert(r.head.getLong(0) == 1L && r.head.getLong(1) == 1L)
    assert(r.head.getDouble(2) == BigDecimal(4.4 / 3.65).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble)
  }
}
