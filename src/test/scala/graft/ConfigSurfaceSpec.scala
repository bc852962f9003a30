package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.scalatest.funsuite.AnyFunSuite

/** Each registered query and each entry point has one configuration:
  * no environment variable reaches a query body, and no oracle is a
  * deliberate failure standing in for an unset override.
  */
class ConfigSurfaceSpec extends AnyFunSuite {

  /** An environment read, with its key when the key is a literal. */
  private val envRead =
    """(?:sys\.env|System\.getenv)(?:\.(?:getOrElse|get|contains))?(?:\(\s*"([^"]*)")?""".r

  test("src/main reads no environment variable beyond the deployment settings") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root ($root missing)")
    val sources = Using.resource(Files.walk(root))(
      _.iterator().asScala.filter(_.toString.endsWith(".scala")).toList)
    val reads = sources.flatMap { f: Path =>
      val file = root.relativize(f).toString
      envRead.findAllMatchIn(Files.readString(f))
        .map(m => file -> Option(m.group(1)).getOrElse("<non-literal key>"))
    }
    val unexpected = reads.filterNot {
      case (_, "SPARK_GRAFT_CPUS" | "SPARK_GRAFT_SF_DIR") => true
      // the scaled-data generator's inputs
      case ("graft/tools/Scale.scala", "GRAFT_SCALE_JITTER" | "GRAFT_SCALE_CLONE") => true
      case _ => false
    }
    assert(unexpected.isEmpty,
      s"environment reads outside the allowed set: ${unexpected.mkString(", ")}")
  }

  /** A string (or SQL single-quoted) literal opening with an absolute
    * path of at least two segments. */
  private val absPath = """["'](/[A-Za-z0-9_.-]+){2,}""".r

  test("src/main names no absolute path outside the test-data defaults") {
    val root = Paths.get("src/main/scala")
    val sources = Using.resource(Files.walk(root))(
      _.iterator().asScala.filter(_.toString.endsWith(".scala")).toList)
    val hits = for {
      f <- sources
      file = root.relativize(f).toString
      (line, n) <- Files.readAllLines(f).asScala.zipWithIndex
      trimmed = line.trim
      if !(trimmed.startsWith("//") || trimmed.startsWith("*") ||
        trimmed.startsWith("/*"))
      m <- absPath.findAllIn(line)
    } yield (file, n + 1, m)
    // a query writes under a per-run Dedup.scratchDir; only the mains'
    // default scale-factor directories name a fixed location
    val unexpected = hits.filterNot {
      case ("graft/Bench.scala" | "graft/SparkEntry.scala" |
          "graft/tools/Explain.scala", _, p) => p.contains("/testdata/")
      case _ => false
    }
    assert(unexpected.isEmpty,
      s"absolute paths in src/main: ${unexpected.mkString(", ")}")
  }

  test("src/main sketches distinct counts only through the Hll kernel") {
    // Spark's HLL++ aggregate runs outside whole-stage codegen on a
    // ~410-column buffer; Hll.approxCountDistinct gives its estimate
    val root = Paths.get("src/main/scala")
    val sources = Using.resource(Files.walk(root))(
      _.iterator().asScala.filter(_.toString.endsWith(".scala")).toList)
    val hits = for {
      f <- sources
      (line, n) <- Files.readAllLines(f).asScala.zipWithIndex
      if line.contains("approx_count_distinct(")
    } yield s"${root.relativize(f)}:${n + 1}"
    assert(hits.isEmpty, s"approx_count_distinct( in src/main: ${hits.mkString(", ")}")
  }

  test("no registered oracle is a deliberate SELECT error(...)") {
    val failing = Registry.all.collect {
      case QueryDef(n, Some(sql), _) if sql.trim.toUpperCase.startsWith("SELECT ERROR(") => n
    }
    assert(failing.isEmpty, s"error oracles: ${failing.mkString(", ")}")
  }
}
