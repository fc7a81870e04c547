package graft.catalog

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import graft.sink.MetaIO
import java.util.Base64

import org.apache.spark.sql.types.{DataType, StructType}

/** Durable SQL views of the warehouse catalog (the Iceberg REST-catalog
  * views analog): each view is one small text file under `<root>/_views/`,
  * holding the defining SQL plus the resolution context Spark's view
  * substitution needs (current catalog/namespace at creation, the analyzed
  * schema, query column names, aliases). Views are pure metadata — zero
  * data files, zero commit interaction; they resolve at ANALYSIS time of
  * the querying statement, so a view over `t` always reads `t`'s current
  * snapshot (and composes with time travel, MOR overlays, branches like any
  * other query text would).
  *
  * Concurrency: CREATE is an atomic CREATE_NEW move (racing creators — one
  * winner, loser gets ViewAlreadyExists); REPLACE/ALTER are atomic
  * overwrites (last writer wins — view DDL has no OCC ledger to rebase
  * against, matching HMS/Iceberg view semantics); the `_views` dir name
  * can never collide with a table (table dirs are bare names, `_`-prefixed
  * paths are warehouse-internal).
  */
private[catalog] object ViewStore {
  final case class ViewRecord(sql: String, currentCatalog: String,
      currentNamespace: Seq[String], schema: StructType,
      queryColumnNames: Seq[String], columnAliases: Seq[String],
      columnComments: Seq[String], properties: Map[String, String])
}

private[catalog] final class ViewStore(root: String) {
  import ViewStore.ViewRecord

  private def dir: Path = Paths.get(root, "_views")
  private def pathOf(name: String): Path = {
    require(name.nonEmpty && !name.contains('/') && !name.startsWith("."),
      s"invalid view name: $name")
    dir.resolve(s"$name.view")
  }

  private def b64(s: String) =
    Base64.getEncoder.encodeToString(s.getBytes(StandardCharsets.UTF_8))
  private def unb64(s: String) =
    new String(Base64.getDecoder.decode(s), StandardCharsets.UTF_8)

  private val Header = "graft-view v1"

  private def render(r: ViewRecord): String = {
    val sb = new StringBuilder
    sb.append(Header).append('\n')
    sb.append("sql\t").append(b64(r.sql)).append('\n')
    sb.append("catalog\t").append(b64(r.currentCatalog)).append('\n')
    sb.append("namespace\t").append(r.currentNamespace.map(b64).mkString(",")).append('\n')
    sb.append("schema\t").append(b64(r.schema.json)).append('\n')
    sb.append("queryCols\t").append(r.queryColumnNames.map(b64).mkString(",")).append('\n')
    sb.append("aliases\t").append(r.columnAliases.map(b64).mkString(",")).append('\n')
    sb.append("comments\t").append(r.columnComments.map(b64).mkString(",")).append('\n')
    r.properties.toSeq.sortBy(_._1).foreach { case (k, v) =>
      sb.append("prop\t").append(b64(k)).append('\t').append(b64(v)).append('\n')
    }
    sb.toString
  }

  private def parse(content: String): ViewRecord = {
    val lines = content.linesIterator.toSeq
    require(lines.headOption.contains(Header), s"not a graft view record")
    val fields = lines.tail.filter(_.nonEmpty).map(_.split('\t'))
    def one(k: String): String =
      fields.collectFirst { case Array(`k`, v) => unb64(v) }
        .getOrElse(if (fields.exists(_.headOption.contains(k))) "" else
          throw new IllegalArgumentException(s"view record missing field: $k"))
    def many(k: String): Seq[String] =
      fields.collectFirst { case Array(`k`, v) => v.split(",", -1).toSeq.filter(_.nonEmpty).map(unb64) }
        .getOrElse(Nil)
    ViewRecord(one("sql"), one("catalog"), many("namespace"),
      DataType.fromJson(one("schema")).asInstanceOf[StructType],
      many("queryCols"), many("aliases"), many("comments"),
      fields.collect { case Array("prop", k, v) => unb64(k) -> unb64(v) }.toMap)
  }

  private def io = MetaIO.local

  def list(): Seq[String] =
    io.list(dir).map(_.getFileName.toString)
      .filter(_.endsWith(".view")).map(_.stripSuffix(".view")).sorted

  def exists(name: String): Boolean = Files.exists(pathOf(name))

  def load(name: String): Option[ViewRecord] = {
    val p = pathOf(name)
    if (!Files.exists(p)) None else Some(parse(Files.readString(p)))
  }

  /** Atomic CREATE_NEW: returns false when the view already exists (a
    * racing creator won). [[MetaIO.casLink]], not a rename — POSIX rename
    * silently REPLACES an existing target, but a hard link is a true
    * create-or-fail (the warehouse commit CAS uses the same primitive).
    */
  def create(name: String, r: ViewRecord): Boolean = {
    io.mkdirs(dir)
    io.casLink(pathOf(name), render(r))
  }

  /** Atomic overwrite (REPLACE VIEW / ALTER VIEW SET). */
  def put(name: String, r: ViewRecord): Unit = {
    io.mkdirs(dir)
    io.atomicWrite(pathOf(name), render(r))
  }

  def drop(name: String): Boolean = io.delete(pathOf(name))

  /** CREATE_NEW-at-target rename: refuses onto an existing view (link-then
    * -unlink — same POSIX-rename-overwrites caveat as [[create]]; a crash
    * between the two leaves the view readable under both names, which a
    * retry or drop cleans, never a lost view).
    */
  def rename(from: String, to: String): Unit = {
    require(exists(from), s"no such view: $from")
    if (!io.link(pathOf(to), pathOf(from)))
      throw new IllegalStateException(s"view already exists: $to")
    io.delete(pathOf(from))
  }
}
