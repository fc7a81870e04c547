package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import scala.jdk.CollectionConverters._
import org.apache.hadoop.conf.Configuration
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation.{TimeUnit => PqTimeUnit, TimestampLogicalTypeAnnotation}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.functions._
import graft.sink.Warehouse

/** Gates the two overlapping appends of [[WriteConfScopeSpec]] wait on
  * inside their write tasks (local mode: tasks run in this JVM, and a
  * static object is what the deserialized UDF closures can reach).
  */
object WriteConfGates {
  @volatile var firstIn, secondIn, firstDone: CountDownLatch = _
  def reset(): Unit = {
    firstIn = new CountDownLatch(1); secondIn = new CountDownLatch(1)
    firstDone = new CountDownLatch(1)
  }
}

/** Warehouse writers overlapping on one session (a fanned-out
  * `Pipeline.run`, `merge`'s rewrite beside its batch) share the
  * session-global parquet write confs: every file they write must carry
  * INT64-micros timestamps, and the session must get its own value back
  * once the last of them is out.
  */
class WriteConfScopeSpec extends SparkSpec {
  private val TsConf = "spark.sql.parquet.outputTimestampType"

  test("overlapping appends write INT64-micros timestamps and restore the session conf") {
    WriteConfGates.reset()
    val root = tmpDir("wh-confscope")
    val wh = new Warehouse(spark, root)
    val before = spark.conf.get(TsConf)
    // the first append's task: in, then held until the second is inside its own write
    val holdFirst = udf { (id: Long) =>
      WriteConfGates.firstIn.countDown()
      WriteConfGates.secondIn.await(60, TimeUnit.SECONDS)
      id
    }.asNondeterministic()
    // the second append's task: in, then held until the first has committed and left
    val holdSecond = udf { (id: Long) =>
      WriteConfGates.secondIn.countDown()
      WriteConfGates.firstDone.await(60, TimeUnit.SECONDS)
      id
    }.asNondeterministic()
    def batch(gate: org.apache.spark.sql.expressions.UserDefinedFunction) =
      spark.range(0, 1, 1, 1).select(gate(col("id")).as("id"),
        timestamp_micros(col("id") + 1700000000000000L).as("ts"))

    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    def thread(body: => Unit) = new Thread(() =>
      try body catch { case e: Throwable => errors.add(e) })
    val first = thread {
      try wh.append("first", batch(holdFirst))
      finally WriteConfGates.firstDone.countDown()
    }
    val second = thread(wh.append("second", batch(holdSecond)))
    first.start()
    assert(WriteConfGates.firstIn.await(60, TimeUnit.SECONDS), "first append never wrote")
    second.start()
    first.join(); second.join()
    assert(errors.isEmpty, s"an append failed: ${errors.peek()}")
    assert(WriteConfGates.secondIn.getCount == 0, "the appends did not overlap")

    assert(spark.conf.get(TsConf) == before, "the session's timestamp type was not restored")
    Seq("first", "second").foreach { t =>
      assert(wh.load(t).count() == 1)
      val files = Files.walk(Paths.get(root, t)).iterator().asScala
        .filter(_.toString.endsWith(".parquet")).toSeq
      files.foreach { f =>
        val r = ParquetFileReader.open(HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.toString), new Configuration()))
        val ts =
          try {
            val schema = r.getFooter.getFileMetaData.getSchema
            schema.getType(schema.getFieldIndex("ts")).asPrimitiveType()
          } finally r.close()
        assert(ts.getPrimitiveTypeName == PrimitiveTypeName.INT64, s"$f: $ts")
        ts.getLogicalTypeAnnotation match {
          case a: TimestampLogicalTypeAnnotation => assert(a.getUnit == PqTimeUnit.MICROS, s"$f: $ts")
          case other => fail(s"$f: ts is not a timestamp: $other")
        }
      }
      assert(files.nonEmpty, s"$t wrote no data file")
    }
  }
}
