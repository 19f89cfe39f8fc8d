package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.scalatest.funsuite.AnyFunSuite

/** The engine packages read no environment variable except the operators'
  * scratch root (`TMPDIR`) and the driver's serve-cache budget, which sizes the
  * driver and so is a deployment setting. A behaviour choice belongs in the
  * code, picked from what it observes (e.g. the driver-loop caps gate on
  * input size), not in a process-wide env knob no caller sets. */
class EngineEnvKnobSpec extends AnyFunSuite {
  private val root = Paths.get("src/main/scala/graft")
  private val engineDirs =
    Seq("queries", "sources", "operators", "functions", "plans", "streaming")
  private val allowed = Set(
    "operators/Pipeline.scala: TMPDIR",
    "sources/ServeCache.scala: GRAFT_SERVE_CACHE_MAX_BYTES")
  private val envRead = """(sys\.env|System\.getenv)""".r
  private val envKey = """(?:sys\.env|System\.getenv)[^"]*"([^"]*)"""".r.unanchored

  test("engine code reads only TMPDIR and the serve-cache budget from the environment") {
    assert(Files.isDirectory(root), s"run from the project root (no $root)")
    val sources = engineDirs.map(root.resolve).flatMap { dir =>
      Using.resource(Files.walk(dir))(_.iterator.asScala.toList)
    }.filter(_.toString.endsWith(".scala"))
    val reads = sources.flatMap { (f: Path) =>
      Files.readAllLines(f).asScala
        .map(_.trim)
        .filterNot(l => l.startsWith("//") || l.startsWith("*") || l.startsWith("/*"))
        .filter(l => envRead.findFirstIn(l).isDefined)
        .map { l =>
          val key = l match { case envKey(k) => k; case _ => l }
          s"${root.relativize(f)}: $key"
        }
    }
    assert(reads.nonEmpty, "the scan found no env read at all")
    val unexpected = reads.filterNot(allowed)
    assert(unexpected.isEmpty, s"engine env knobs beyond the allowed two: $unexpected")
  }
}
