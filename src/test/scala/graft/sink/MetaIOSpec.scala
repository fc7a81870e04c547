package graft.sink

import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.FileTime

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import graft.{SparkSpec, TestSpark}

/** The metadata-IO seam's own contract: writers of one target never share
  * a tmp file, the link CAS admits one creator, every mutation is a counted
  * step, and orphaned tmp files of any name shape are swept by expiry.
  */
class MetaIOSpec extends SparkSpec {
  import scala.jdk.CollectionConverters._

  private val schema = StructType(Seq(StructField("x", LongType)))
  private def df(xs: Long*) = TestSpark.spark.createDataFrame(
    xs.map(Row(_)).asJava, schema)

  test("same-target writers: eight threads recordBatchId one key, none fails") {
    val wh = new Warehouse(spark, tmpDir("mio-meta"))
    wh.create("t", schema)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    val written = (0 until 8).flatMap(w => (0 until 50).map(i => w * 1000L + i))
    try {
      val futures = (0 until 8).map { w =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = (0 until 50).foreach(i => wh.recordBatchId("t", "k", w * 1000L + i))
        })
      }
      futures.foreach(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
    } finally pool.shutdownNow()
    val last = wh.recordedBatchId("t", "k")
    assert(written.contains(last), s"final value $last was never written")
  }

  test("expireSnapshots sweeps grace-aged orphan .tmp files; a fresh one survives") {
    val root = tmpDir("mio-tmp")
    val wh = new Warehouse(spark, root)
    wh.append("t", df(1L, 2L))
    wh.append("t", df(3L))
    val td = Paths.get(root, "t")
    val old = td.resolve("g0123456789abcdef.seg.tmp")
    val fresh = td.resolve("g0fedcba987654321.seg.tmp")
    Files.writeString(old, "orphan")
    Files.writeString(fresh, "in flight")
    Files.setLastModifiedTime(old,
      FileTime.fromMillis(System.currentTimeMillis() - 2L * 3600 * 1000))
    wh.expireSnapshots("t", 1, orphanGraceMs = 3600L * 1000)
    assert(!Files.exists(old), "grace-aged orphan tmp must be swept")
    assert(Files.exists(fresh), "a fresh tmp may belong to an in-flight writer")
    assert(wh.load("t").count() == 3)
  }

  test("atomicWrite replaces through a private tmp; casLink admits exactly one creator") {
    val dir = Paths.get(tmpDir("mio-ops"))
    val io = MetaIO.local
    val target = dir.resolve("f")
    assert(io.tmpFor(target) != io.tmpFor(target), "tmp names must be unique per writer")
    assert(io.tmpFor(target).getFileName.toString.matches("f\\.[0-9a-f-]{8}\\.tmp"))
    io.atomicWrite(target, "one")
    io.atomicWrite(target, "two")
    assert(Files.readString(target) == "two")
    val link = dir.resolve("l")
    assert(io.casLink(link, "first"))
    assert(!io.casLink(link, "second"), "the second creator must lose")
    assert(Files.readString(link) == "first")
    assert(io.list(dir).map(_.getFileName.toString).sorted == Seq("f", "l"),
      "no tmp may outlive a completed write")
    assert(io.list(dir.resolve("absent")).isEmpty)
  }

  test("every mutation is one counted step; an existing dir costs none") {
    val dir = Paths.get(tmpDir("mio-steps"))
    val io = new CrashingMetaIO(Int.MaxValue)
    io.mkdirs(dir)
    assert(io.steps == 0)
    io.mkdirs(dir.resolve("a/b"))
    io.atomicWrite(dir.resolve("a/b/f"), "x") // tmp write + rename
    assert(io.casLink(dir.resolve("a/g"), "y")) // tmp write + link + tmp delete
    io.move(dir.resolve("a/g"), dir.resolve("a/h"))
    io.moveNew(dir.resolve("a/h"), dir.resolve("a/i"))
    io.deleteTree(dir.resolve("a")) // a, a/b, a/b/f, a/i
    assert(io.steps == 1 + 2 + 3 + 1 + 1 + 4)
    assert(!Files.exists(dir.resolve("a")))
  }

  test("moveNew refuses an existing target, even an empty directory") {
    val dir = Paths.get(tmpDir("mio-movenew"))
    val io = MetaIO.local
    io.mkdirs(dir.resolve("src"))
    io.atomicWrite(dir.resolve("src/f"), "x")
    io.mkdirs(dir.resolve("empty"))
    intercept[java.nio.file.FileAlreadyExistsException](
      io.moveNew(dir.resolve("src"), dir.resolve("empty")))
    assert(Files.readString(dir.resolve("src/f")) == "x")
    io.moveNew(dir.resolve("src"), dir.resolve("dst"))
    assert(Files.readString(dir.resolve("dst/f")) == "x" && !Files.exists(dir.resolve("src")))
  }
}
