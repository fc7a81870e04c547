package graft

import org.apache.spark.sql.SparkSession

/** The one session shape `Verify`, `Bench` and the specs build, so a query
  * behaves the same under all three.
  */
object GraftSession {

  /** Local cores: `SPARK_GRAFT_CPUS`, else every processor of this box. */
  def envCores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** `local[cores]` with one shuffle partition per core. `fsPatch = false`
    * keeps the stock local file system (Bench's `SPARK_GRAFT_FS_PATCH=0`
    * A/B switch).
    */
  def builder(cores: Int, fsPatch: Boolean = true): SparkSession.Builder = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // A reference to a column that's re-aliased later in the SAME select
      // must resolve to the child's column, never the sibling alias — with
      // implicit lateral-alias resolution on, that mistake is a silent wrong
      // answer (round-6 q75); with it off, an analysis error.
      .config("spark.sql.lateralColumnAlias.enableImplicitResolution", "false")
      // catalog rules (MOR reads, manifest pruning, stat-served aggregates)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
    // no forked chmod per local file create (graft.hadoop scaladoc): the
    // sandbox has no libhadoop, so the stock local FS forks /bin/chmod on
    // EVERY file create/mkdir. The FileSystem-based checkpoint manager keeps
    // streaming checkpoint IO on that patched FS (the default FileContext
    // manager instantiates the stock RawLocalFileSystem directly and forks
    // `readlink` per rename on top).
    if (!fsPatch) b
    else b.config("spark.hadoop.fs.file.impl", classOf[graft.hadoop.FastLocalFileSystem].getName)
      .config("spark.sql.streaming.checkpointFileManagerClass",
        "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager")
  }
}
