package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.scalatest.funsuite.AnyFunSuite

/** Every table read goes through `Tables`, which passes the table's
  * memoized schema, and every read of a `DedupIndex` table passes that
  * table's declared schema: a parquet read without a schema runs a
  * footer-reading Spark job each time it is planned.
  */
class ReadSurfaceSpec extends AnyFunSuite {

  /** A parquet call whose path is under the table directory: the
    * registry's `dir` (or a main's `sfDir`), or a `<table>.parquet`. */
  private val tableDirParquet =
    """\.parquet\([^)]*(\$\{?(dir|sfDir)\b|\.parquet")""".r

  /** The DedupIndex tables and the declared schema each is read with. */
  private val indexTables = Map(
    "bands" -> "bandsSchema",
    "shingles" -> "shinglesSchema")

  private def sources: List[(String, Seq[(String, Int)])] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root ($root missing)")
    Using.resource(Files.walk(root))(
      _.iterator().asScala.filter(_.toString.endsWith(".scala")).toList)
      .map { f: Path =>
        root.relativize(f).toString ->
          Files.readAllLines(f).asScala.toSeq.zipWithIndex.filterNot { case (l, _) =>
            val t = l.trim
            t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")
          }
      }
  }

  test("only Tables reads the table directory") {
    // Tables.read and Tables.stream: the one module that knows how a
    // table is stored (tools.Scale writes tables; writes are not reads)
    val allowed = Set("graft/Tables.scala")
    val hits = for {
      (file, lines) <- sources if !allowed(file)
      (line, i) <- lines
      if tableDirParquet.findFirstIn(line).isDefined && !line.contains(".write")
    } yield s"$file:${i + 1}"
    assert(hits.isEmpty, s"table reads outside Tables: ${hits.mkString(", ")}")
  }

  test("every DedupIndex table read passes the table's declared schema") {
    // a write names its table too (`.write…parquet(s"$path/bands")`);
    // a read must be `read.schema(<declared>).parquet(…/<table>)` on
    // one line, in any file
    val hits = for {
      (file, lines) <- sources
      (line, i) <- lines if line.contains(".parquet(") && !line.contains(".write")
      (table, schema) <- indexTables
      if line.contains(s"/$table\"") && !line.contains(s"read.schema($schema")
    } yield s"$file:${i + 1} $table"
    assert(hits.isEmpty, s"DedupIndex reads without the declared schema: ${hits.mkString(", ")}")
  }
}
