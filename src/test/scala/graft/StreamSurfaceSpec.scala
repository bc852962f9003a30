package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.scalatest.funsuite.AnyFunSuite

/** Every registered stream opens its table through `Tables.stream` and
  * runs to completion through `graft.streaming.Drain`: a new streaming
  * query that copies the file-source layout fork or the
  * start / processAllAvailable / stop block fails here.
  */
class StreamSurfaceSpec extends AnyFunSuite {

  private val tokens = Seq("pathGlobFilter", "format(\"memory\")", "processAllAvailable")

  /** (file under src/main/scala, token) pairs that may use a token. */
  private val allowed: Set[(String, String)] = Set(
    // the one place that knows a table's on-disk layout
    "graft/Tables.scala" -> "pathGlobFilter",
    // the one run-to-completion drain and its memory-sink form
    "graft/streaming/Drain.scala" -> "format(\"memory\")",
    "graft/streaming/Drain.scala" -> "processAllAvailable",
    // StreamEnv.readFileStream, the public monitored-directory source
    "graft/api/StreamEnv.scala" -> "pathGlobFilter",
    // queryable state: a serving query whose caller drives it
    "graft/streaming/QueryableState.scala" -> "format(\"memory\")",
    "graft/streaming/QueryableState.scala" -> "processAllAvailable")

  /** q168 drives its queryable-state handle through the store's own
    * `processAllAvailable` (QueryableState's API, not a drain). */
  private def queryableStateCall(file: String, line: String): Boolean =
    file == "graft/streaming/StreamQueries.scala" &&
      line.trim == "store.processAllAvailable()"

  private def isComment(line: String): Boolean = {
    val t = line.trim
    t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")
  }

  test("only Tables, the drain, readFileStream and QueryableState open or drain streams") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root ($root missing)")
    val sources = Using.resource(Files.walk(root))(
      _.iterator().asScala.filter(_.toString.endsWith(".scala")).toList)
    val hits = for {
      f: Path <- sources
      file = root.relativize(f).toString
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if !isComment(line)
      token <- tokens
      if line.contains(token)
      if !allowed((file, token)) && !queryableStateCall(file, line)
    } yield s"$file:${i + 1} $token"
    assert(hits.isEmpty, s"stream source or drain copies: ${hits.mkString(", ")}")
  }
}
