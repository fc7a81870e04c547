package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Command line of the JVM side (run.py builds it). */
final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                      data: Path, work: Path, out: Path)

object Args {
  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def p(k: String) = Paths.get(kv(k)).toAbsolutePath
    Args(kv("workload"), kv("seed").toLong, kv("seconds").toDouble, kv("trace") == "1",
      p("data"), p("work"), p("out"))
  }
}

/** One closed-loop operation: its kind, timed wall milliseconds, whether
  * it ran and passed its output check, whether it was traced, and whether
  * it ran inside the measured window (false for warm-up ops).
  */
final case class Op(kind: String, ms: Double, ok: Boolean, traced: Boolean,
                    timed: Boolean = true)

/** What a workload hands back besides its op log: the kind of its
  * headline op (the unit of work its latency is taken over), its storage
  * amplification (bytes on disk over the same final content written once
  * as snappy parquet), its own named figures (value, unit) for the detail
  * report, the verdict of its end-of-run output check, and the
  * `SparkEntry.queries` keys whose dumped results run.py checks against
  * their DuckDB oracles.
  */
final case class Outcome(headline: String, storedPerInputByte: Double,
                         detail: Seq[(String, Double, String)], finalCheckOk: Boolean,
                         oracleKeys: Seq[String] = Nil)

/** Per-run context shared by the workloads: session, clock, op log,
  * tracer, Spark probe and per-layer samples.
  */
final class Ctx(val spark: SparkSession, val args: Args) {
  val tracer = new Tracer(args.trace)
  val probe: Option[SparkProbe] =
    if (!args.trace) None
    else {
      val p = new SparkProbe(spark.sparkContext)
      spark.sparkContext.addSparkListener(p)
      Some(p)
    }
  val ops = mutable.ArrayBuffer.empty[Op]
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  var setupSeconds = 0.0

  def sample(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

  def dir(name: String): Path = Files.createDirectories(args.work.resolve(name))

  /** Run the workload's set-up, timed. */
  def setup[S](build: => S): S = {
    val t = System.nanoTime()
    val s = build
    setupSeconds = (System.nanoTime() - t) / 1e9
    s
  }

  private var clockStart = 0L
  private var clockRunning = false

  /** Ends the warm-up: ops from here on are the measured ones. */
  def startClock(): Unit = {
    clockStart = System.nanoTime()
    clockRunning = true
  }

  /** Closed-loop window: the next unit of work (a round, a tick) starts
    * only if, at the mean time of the units so far, it would end within
    * `--seconds`; the first `minUnits` always run.
    */
  def timeLeft(unitMs: Seq[Double], minUnits: Int = 1): Boolean = unitMs.size < minUnits || {
    val elapsedMs = (System.nanoTime() - clockStart) / 1e6
    elapsedMs + unitMs.sum / unitMs.size <= args.seconds * 1000
  }

  /** Time `body` as op `kind`; `check` runs untimed on its result. A throw
    * or a failed check marks the op failed. A traced run traces only some
    * ops (`traced`), so the untraced rest gives the tracing overhead; the
    * Spark probe's per-op figures are kept per op kind.
    */
  def op[A](kind: String, traced: Boolean)(body: => A)(check: A => Boolean): Option[A] = {
    tracer.beginOp(ops.size, traced)
    if (traced) probe.foreach(_.begin())
    val t = System.nanoTime()
    val res = try Right(tracer.span(kind)(body)) catch { case NonFatal(e) => Left(e) }
    val ms = (System.nanoTime() - t) / 1e6
    if (traced) probe.foreach(_.end().foreach { case (k, v) => sample(s"$k@$kind", v) })
    val ok = res match {
      case Right(a) =>
        try check(a) catch { case NonFatal(e) => Bench.warn(s"$kind check threw", e); false }
      case Left(e) => Bench.warn(s"$kind failed", e); false
    }
    if (!ok) Bench.warn(s"$kind output check failed (op ${ops.size})", null)
    ops += Op(kind, ms, ok, traced, clockRunning)
    res.toOption
  }

  /** Traced-only work outside any op's timing (e.g. a layer probe the op
    * itself cannot reach): recorded as its own span tree under a negative
    * op id so it never counts as op time.
    */
  def aside[A](name: String)(body: => A): A = {
    tracer.beginOp(-1 - ops.size, traced = true)
    tracer.span(name)(body)
  }

  def registerCatalog(name: String, root: Path): Unit = {
    spark.conf.set(s"spark.sql.catalog.$name", classOf[graft.catalog.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.root", root.toString)
  }
}

object Bench {
  def warn(msg: String, e: Throwable): Unit = {
    System.err.println(s"[perfbench] $msg" + Option(e).fold("")(x => s": $x"))
    if (e != null) e.printStackTrace()
  }

  /** The session shape of the engine's own harnesses, sized to the machine it runs on. */
  def session(work: Path): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.lateralColumnAlias.enableImplicitResolution", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.hadoop.fs.file.impl", classOf[graft.hadoop.FastLocalFileSystem].getName)
      .config("spark.sql.streaming.checkpointFileManagerClass",
        "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Bytes of the regular files under `p` that pass `keep`. */
  def bytesUnder(p: Path, keep: Path => Boolean = _ => true): Long =
    Files.walk(p).iterator().asScala
      .filter(f => Files.isRegularFile(f) && keep(f)).map(Files.size).sum

  /** Peak resident set of this process (VmHWM), MB. */
  def rssPeakMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).toArray.map(_.toString)
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def main(argv: Array[String]): Unit = {
    val args = Args.parse(argv)
    Files.createDirectories(args.out)
    val t0 = System.nanoTime()
    val spark = session(args.work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val ctx = new Ctx(spark, args)
    val w0 = System.nanoTime()
    val outcome = args.workload match {
      case "ingest" => Ingest.run(ctx)
      case "follow" => Follow.run(ctx)
      case w => throw new IllegalArgumentException(s"unknown workload: $w")
    }
    val result = Report.assemble(ctx, outcome, sessionS, (System.nanoTime() - w0) / 1e9,
      rssPeakMb())
    Files.writeString(args.out.resolve("result.json"), result)
    if (args.trace) {
      Files.write(args.out.resolve("spans.jsonl"),
        Trace.toJsonLines(ctx.tracer.spans).toSeq.asJava)
    }
    spark.stop()
  }
}
