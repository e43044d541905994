package graft.core

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every session of the engine is built by [[GraftSession.builder]]:
  * Spark's generated-code cache is sized once per JVM by the first
  * session that compiles ([[GraftSession.CodegenCacheEntries]]), and the
  * UTC / timestamp / nanos confs must match across mains for their
  * numbers to compare. A hand-built session anywhere else in
  * `src/main/scala` silently times a different engine. */
class SessionFactorySpec extends AnyFunSuite {

  test("no SparkSession.builder call outside graft/core") {
    val root = Paths.get(sys.props("user.dir"), "src", "main", "scala")
    assert(Files.isDirectory(root), s"source root not found: $root")
    val core = root.resolve(Paths.get("graft", "core"))
    val sources = Files.walk(root).iterator.asScala
      .filter(p => p.toString.endsWith(".scala")).toSeq
    assert(sources.size > 50, s"only ${sources.size} sources under $root")
    val offenders = sources.filterNot((p: Path) => p.startsWith(core)).filter { p =>
      Files.readString(p).linesIterator.exists(_.contains("SparkSession.builder"))
    }
    assert(offenders.isEmpty,
      s"build sessions with GraftSession.builder instead: ${offenders.mkString(", ")}")
  }
}
