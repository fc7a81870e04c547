package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import graft.sink.Warehouse

/** Atomic multi-table rename (Warehouse.renameAll): one durable intent
  * marker, pairs executed in order, roll-forward recovery on every access —
  * a reader sees the whole old family or the whole new family, never a mix,
  * and a crash between moves converges on the next probe.
  */
class RenameAllSpec extends SparkSpec {
  import scala.jdk.CollectionConverters._

  private val schema = StructType(Seq(
    StructField("Id", StringType), StructField("Amount", LongType)))

  private def df(rows: (String, Long)*) =
    spark.createDataFrame(rows.map(r => Row(r._1, r._2)).asJava, schema)

  private def mk(prefix: String): (Warehouse, String) = {
    val root = tmpDir(prefix)
    (new Warehouse(spark, root), root)
  }

  test("family rename: all members move together, content intact") {
    val (wh, _) = mk("ra-family")
    Seq("v2", "v2__cells", "v2__codes").foreach(t => wh.append(t, df((t, 1))))
    wh.renameAll(Seq("v2" -> "v", "v2__cells" -> "v__cells", "v2__codes" -> "v__codes"))
    Seq("v2", "v2__cells", "v2__codes").foreach(t => assert(!wh.exists(t), s"$t survived"))
    Seq("v", "v__cells", "v__codes").foreach { t =>
      assert(wh.exists(t), s"$t missing")
    }
    // content followed the rename (manifest paths are table-dir-relative)
    assert(wh.load("v__cells").collect().head.getString(0) == "v2__cells")
  }

  test("chained swap in one intent: live -> retired, candidate -> live") {
    val (wh, _) = mk("ra-chain")
    wh.append("live", df(("old", 1)))
    wh.append("candidate", df(("new", 2)))
    wh.renameAll(Seq("live" -> "retired", "candidate" -> "live"))
    assert(wh.load("live").collect().head.getString(0) == "new")
    assert(wh.load("retired").collect().head.getString(0) == "old")
    assert(!wh.exists("candidate"))
  }

  test("rotation through a spare name: a -> spare, b -> a, spare -> b swaps two tables") {
    val (wh, root) = mk("ra-rotate")
    wh.append("a", df(("was-a", 1)))
    wh.append("b", df(("was-b", 2)))
    wh.renameAll(Seq("a" -> "spare", "b" -> "a", "spare" -> "b"))
    assert(wh.load("a").collect().head.getString(0) == "was-b")
    assert(wh.load("b").collect().head.getString(0) == "was-a")
    assert(!wh.exists("spare"))
    assert(!Files.list(Paths.get(root, "_intents")).iterator().hasNext,
      "the intent and its progress markers must clear")
  }

  test("validation: missing source, occupied target, duplicates refuse") {
    val (wh, _) = mk("ra-validate")
    wh.append("a", df(("a", 1)))
    wh.append("b", df(("b", 2)))
    intercept[IllegalArgumentException](wh.renameAll(Seq("ghost" -> "x")))
    intercept[IllegalArgumentException](wh.renameAll(Seq("a" -> "b")))
    intercept[IllegalArgumentException](wh.renameAll(Seq("a" -> "x", "a" -> "y")))
    intercept[IllegalArgumentException](wh.renameAll(Seq("a" -> "x", "b" -> "x")))
    // nothing moved by the failed attempts
    assert(wh.exists("a") && wh.exists("b") && !wh.exists("x"))
  }

  test("crash mid-swap: a durable intent with partial moves converges on next access") {
    val (wh, root) = mk("ra-crash")
    wh.append("t1", df(("one", 1)))
    wh.append("t2", df(("two", 2)))
    // simulate a crashed renameAll: marker durable, only the FIRST move done
    val intents = Paths.get(root, "_intents")
    Files.createDirectories(intents)
    Files.writeString(intents.resolve("rename-crash1"), "t1\tn1\nt2\tn2")
    Files.move(Paths.get(root, "t1"), Paths.get(root, "n1"))
    // the next probe — ANY table, even an uninvolved name — rolls forward
    val wh2 = new Warehouse(spark, root)
    assert(!wh2.exists("nothing-to-do-with-it"))
    assert(wh2.exists("n1") && wh2.exists("n2"), "intent did not roll forward")
    assert(!wh2.exists("t1") && !wh2.exists("t2"))
    assert(wh2.load("n2").collect().head.getString(0) == "two")
    assert(!Files.exists(intents.resolve("rename-crash1")), "marker must clear")
  }

  test("no mixed family observable: marker durable but nothing moved yet") {
    val (wh, root) = mk("ra-atomic")
    wh.append("f", df(("f", 1)))
    wh.append("f__cells", df(("c", 2)))
    val intents = Paths.get(root, "_intents")
    Files.createDirectories(intents)
    Files.writeString(intents.resolve("rename-atomic"), "f\tg\nf__cells\tg__cells")
    // first observation of EITHER member completes the WHOLE swap first
    val wh2 = new Warehouse(spark, root)
    assert(wh2.exists("g"))
    assert(wh2.exists("g__cells") && !wh2.exists("f") && !wh2.exists("f__cells"),
      "observer saw a half-moved family")
  }

  test("idempotent recovery: an already-complete intent just clears") {
    val (wh, root) = mk("ra-idem")
    wh.append("done", df(("d", 1)))
    wh.rename("done", "moved")
    val intents = Paths.get(root, "_intents")
    Files.createDirectories(intents)
    Files.writeString(intents.resolve("rename-idem"), "done\tmoved")
    assert(new Warehouse(spark, root).exists("moved"))
    assert(!Files.exists(intents.resolve("rename-idem")))
  }

  test("vector index family swap: served results identical after promotion") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    import graft.functions.{ProductQuantization, VectorFns}
    import graft.sink.VectorIndexIngest
    val DIM = 8; val M = 2; val K = 4
    def block(p: Int) = math.min(p / 3, 2)
    val vschema = StructType(Seq(
      StructField("id", LongType), StructField("emb", ArrayType(DoubleType))))
    val rows = (0 until 18).map { i =>
      Row(i.toLong, (0 until DIM).map(p =>
        (if (block(p) == i % 3) 10.0 else 0.0) + 0.1 * ((i * 7 + p) % 5)).toArray)
    }
    val vecs = spark.createDataFrame(rows.asJava, vschema)
    val cents = spark.createDataFrame((0 until 3).map(c =>
      Row(c.toLong, (0 until DIM).map(p => if (block(p) == c) 10.0 else 0.0).toArray)).asJava,
      StructType(Seq(StructField("cell", LongType), StructField("cv", ArrayType(DoubleType)))))
    val (wh, _) = mk("ra-vii")
    val ing = new VectorIndexIngest(wh, "id", "emb", DIM, M, K)
    val model = ProductQuantization.initCodebook(
      vecs.select(col("id").as("vec_id"), col("emb").as("v")), DIM, M, K)
    ing.freeze("cand", cents, model)
    ing.ingest("cand", vecs)
    val probes = vecs.filter(col("id") < 2)
      .select(col("id").as("probe_id"), col("emb").as("pv"))
    val before = ing.search("cand", probes, nprobe = 2, topK = 5)
      .orderBy("probe_id", "rank").collect().toSeq
    ing.swapFamily("cand", "serving")
    assert(!wh.exists("cand") && !wh.exists("cand__codes"))
    val after = ing.search("serving", probes, nprobe = 2, topK = 5)
      .orderBy("probe_id", "rank").collect().toSeq
    assert(after == before, "promotion changed served results")
    // a second generation retires the first in the same atomic intent
    ing.freeze("cand2", cents, model)
    ing.ingest("cand2", vecs)
    ing.swapFamily("cand2", "serving")
    assert(wh.exists("serving__retired_0") && wh.exists("serving__retired_0__codes"))
    assert(ing.search("serving", probes, nprobe = 2, topK = 5)
      .orderBy("probe_id", "rank").collect().toSeq == before)
  }
}
