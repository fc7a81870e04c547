package graft.state

import java.nio.file.{Files, Paths}

import graft.sink.MetaIO

/** Incremental-extraction state (SURVEY.md §2.9 I1-I5).
  *
  * The reference persists a per-resource max-watermark between runs in
  * `~/.dlt/pipelines/<name>` (dlt `incremental(...)`,
  * `salesforce/__init__.py:41-47`) and deletes the state dir on
  * `force_replace` (`salesforce_pipeline.py:183-188`). Here: one flat
  * properties file per pipeline, written by [[graft.sink.MetaIO]]'s atomic
  * write (a private tmp per write, then one rename) so a crashed run never
  * leaves a torn watermark. Values are opaque strings —
  * ISO timestamps for the Salesforce model, any orderable literal generally.
  */
final class WatermarkStore(dir: String) {
  private val file = Paths.get(dir, "watermarks.properties")

  def get(resource: String): Option[String] = all().get(resource)

  def all(): Map[String, String] =
    if (!Files.exists(file)) Map.empty
    else Files.readAllLines(file).asScala
      .filter(_.contains('=')).map { l =>
        val i = l.indexOf('='); l.substring(0, i) -> l.substring(i + 1)
      }.toMap

  /** Advance a resource's watermark — monotone by construction: a smaller or
    * equal candidate is a no-op, mirroring dlt's max-tracking semantics.
    * Both sides are canonicalized first: the repo renders timestamps in two
    * coexisting formats (Z-suffixed seed values vs Z-less µs strings from
    * `date_format`), and since `'.' < 'Z'` a raw lexicographic compare would
    * let a seeded `...T00:00:00Z` block any same-second µs candidate forever.
    */
  def advance(resource: String, candidate: String): Unit = synchronized {
    val cur = get(resource)
    if (cur.forall(c => WatermarkStore.canonical(c) < WatermarkStore.canonical(candidate)))
      put(resource, candidate)
  }

  /** Read-modify-write of the one shared file: serialized on the store, so
    * resources loading concurrently (`Pipeline.run`) never lose each
    * other's updates.
    */
  def put(resource: String, value: String): Unit = synchronized {
    val m = all() + (resource -> WatermarkStore.canonical(value))
    MetaIO.local.mkdirs(file.getParent)
    MetaIO.local.atomicWrite(file, m.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString("\n"))
  }

  /** I5 state reset (`force_replace` deletes the dlt state dir). */
  def reset(): Unit = synchronized { MetaIO.local.delete(file) }

  private implicit class JListOps[A](l: java.util.List[A]) {
    def asScala: Seq[A] = {
      val b = Seq.newBuilder[A]; l.forEach(a => b += a); b.result()
    }
  }
}

object WatermarkStore {
  private val TsLike = """\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}(\.\d{1,9})?Z?""".r

  /** Canonical fixed-width Z-less µs rendering of timestamp-like watermarks
    * (`2000-01-01T00:00:00Z` → `2000-01-01T00:00:00.000000`), so lexicographic
    * order equals temporal order across both formats the repo produces.
    * Non-timestamp values (watermarks are opaque orderable literals in
    * general) pass through untouched.
    */
  def canonical(v: String): String = v.trim match {
    case s @ TsLike(_*) =>
      val noZ = s.stripSuffix("Z")
      val i = noZ.indexOf('.')
      if (i < 0) noZ + ".000000"
      else noZ.substring(0, i) + "." + (noZ.substring(i + 1) + "000000").take(6)
    case other => other
  }
}
