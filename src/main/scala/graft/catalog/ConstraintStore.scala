package graft.catalog

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util.Base64

import graft.sink.MetaIO

import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.connector.catalog.constraints.{Check, Constraint, ForeignKey, PrimaryKey, Unique}
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}

/** Durable table constraints (the Spark 4 constraints SPIP, graft-served):
  * one `_constraints` text file inside the table directory — it moves with
  * [[graft.sink.Warehouse.rename]] and dies with drop, like the partition
  * spec. CHECK constraints round-trip their predicate SQL; PRIMARY KEY /
  * UNIQUE / FOREIGN KEY round-trip their column lists. Flags (ENFORCED /
  * RELY / validation status) ride each entry.
  *
  * Division of labor: the store only persists and serves. ENFORCEMENT is
  * Spark's own `ResolveTableConstraints` — any V2 write whose target table
  * reports an enforced CHECK gets the validating invariant spliced into
  * its query, so INSERT / writeTo / CTAS all fail loudly on a violating
  * row with zero engine-side code. PK/UNIQUE/FK are informational (RELY
  * metadata for the optimizer), exactly the SPIP's contract.
  */
private[graft] final class ConstraintStore(root: String) {

  private def pathOf(table: String): Path = Paths.get(root, table, "_constraints")

  private def b64(s: String) =
    Base64.getEncoder.encodeToString(s.getBytes(StandardCharsets.UTF_8))
  private def unb64(s: String) =
    new String(Base64.getDecoder.decode(s), StandardCharsets.UTF_8)

  private val Header = "graft-constraints v1"

  private def flags(c: Constraint): String =
    (if (c.enforced()) "e" else "-") + (if (c.rely()) "r" else "-") +
      (c.validationStatus() match {
        case Constraint.ValidationStatus.VALID   => "v"
        case Constraint.ValidationStatus.INVALID => "i"
        case _                                   => "u"
      })

  // the shared Builder superclass is package-private in Spark, so the flag
  // application is spelled per concrete builder (each chains in its own type)
  private def status(c: Char): Constraint.ValidationStatus = c match {
    case 'v' => Constraint.ValidationStatus.VALID
    case 'i' => Constraint.ValidationStatus.INVALID
    case _   => Constraint.ValidationStatus.UNVALIDATED
  }

  private def cols(rs: Array[NamedReference]): String =
    rs.map(r => b64(r.fieldNames().mkString("."))).mkString(",")
  private def uncols(s: String): Array[NamedReference] =
    s.split(",").filter(_.nonEmpty).map(c => Expressions.column(unb64(c)))

  private def render(c: Constraint): String = c match {
    case ck: Check =>
      s"C\t${b64(ck.name())}\t${b64(ck.predicateSql())}\t${flags(ck)}"
    case pk: PrimaryKey =>
      s"P\t${b64(pk.name())}\t${cols(pk.columns())}\t${flags(pk)}"
    case u: Unique =>
      s"U\t${b64(u.name())}\t${cols(u.columns())}\t${flags(u)}"
    case fk: ForeignKey =>
      s"F\t${b64(fk.name())}\t${cols(fk.columns())}\t${b64(fk.referencedTable().name())}\t${cols(fk.referencedColumns())}\t${flags(fk)}"
    case other => throw new UnsupportedOperationException(
      s"unsupported constraint kind: ${other.getClass.getSimpleName}")
  }

  private def parse(l: String): Constraint = {
    val f = l.split('\t')
    f(0) match {
      case "C" =>
        val fl = f(3)
        Constraint.check(unb64(f(1))).predicateSql(unb64(f(2)))
          .enforced(fl(0) == 'e').rely(fl(1) == 'r')
          .validationStatus(status(fl(2))).build()
      case "P" =>
        val fl = f(3)
        Constraint.primaryKey(unb64(f(1)), uncols(f(2)))
          .enforced(fl(0) == 'e').rely(fl(1) == 'r')
          .validationStatus(status(fl(2))).build()
      case "U" =>
        val fl = f(3)
        Constraint.unique(unb64(f(1)), uncols(f(2)))
          .enforced(fl(0) == 'e').rely(fl(1) == 'r')
          .validationStatus(status(fl(2))).build()
      case "F" =>
        val fl = f(5)
        Constraint.foreignKey(unb64(f(1)), uncols(f(2)),
            Identifier.of(Array.empty[String], unb64(f(3))), uncols(f(4)))
          .enforced(fl(0) == 'e').rely(fl(1) == 'r')
          .validationStatus(status(fl(2))).build()
      case k => throw new IllegalArgumentException(s"unknown constraint kind: $k")
    }
  }

  def list(table: String): Seq[Constraint] = {
    val p = pathOf(table)
    if (!Files.exists(p)) return Nil
    val lines = Files.readString(p).linesIterator.toSeq
    require(lines.headOption.contains(Header), s"not a graft constraints file: $p")
    lines.tail.filter(_.nonEmpty).map(parse)
  }

  def put(table: String, constraints: Seq[Constraint]): Unit = {
    MetaIO.local.mkdirs(Paths.get(root, table))
    MetaIO.local.atomicWrite(pathOf(table),
      (Header +: constraints.map(render)).mkString("", "\n", "\n"))
  }

  def add(table: String, c: Constraint): Unit = {
    val cur = list(table)
    require(!cur.exists(_.name().equalsIgnoreCase(c.name())),
      s"constraint already exists on $table: ${c.name()}")
    put(table, cur :+ c)
  }

  def drop(table: String, name: String, ifExists: Boolean): Unit = {
    val cur = list(table)
    val (hit, rest) = cur.partition(_.name().equalsIgnoreCase(name))
    if (hit.isEmpty && !ifExists)
      throw new IllegalArgumentException(s"no such constraint on $table: $name")
    if (hit.nonEmpty) put(table, rest)
  }
}
