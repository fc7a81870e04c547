package graft

import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** The metadata-IO seam is the only place main code mutates the file
  * system: a direct `Files` write, move, link, copy, create or delete (or a
  * `StandardCopyOption`) anywhere else bypasses the one durable-write
  * protocol and the crash matrix that replays it.
  */
class MetaIOLintSpec extends AnyFunSuite {
  import scala.jdk.CollectionConverters._

  private val Mutation = ("Files\\.(write|writeString|move|createLink|createFile|delete|" +
    "deleteIfExists|createDirectories|copy|newOutputStream|newBufferedWriter)\\b|" +
    "StandardCopyOption").r

  test("no direct Files mutation in src/main outside MetaIO") {
    val main = Paths.get("src", "main")
    assert(Files.isDirectory(main), s"run from the project root (no $main here)")
    val sources: Seq[Path] = {
      val s = Files.walk(main)
      try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
      finally s.close()
    }
    val seam = Paths.get("src", "main", "scala", "graft", "sink", "MetaIO.scala")
    val hits = sources.filterNot(_ == seam).sorted.flatMap { f =>
      Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (line, i) if Mutation.findFirstIn(line).nonEmpty => s"$f:${i + 1}: ${line.trim}"
      }
    }
    assert(sources.contains(seam), s"$seam is missing")
    assert(hits.isEmpty, hits.mkString("direct file-system mutations outside MetaIO:\n", "\n", ""))
  }
}
