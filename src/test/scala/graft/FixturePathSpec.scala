package graft

import scala.jdk.CollectionConverters._

/** The pycart fixture specs and tools read `data/Test/` in the repo;
  * this guard keeps them from going back to a checkout outside it. */
class FixturePathSpec extends org.scalatest.funsuite.AnyFunSuite {

  test("no source under src/ reads a fixture from an external pycart checkout") {
    import java.nio.file.{Files, Paths}
    val root = Paths.get("src")
    assert(Files.isDirectory(root), s"${root.toAbsolutePath} missing")
    // an absolute path to a `reference` checkout, or to any `data/Test/`
    val external = """/\w+/reference\b|"/[^"]*data/Test/""".r
    val sources = scala.util.Using.resource(Files.walk(root))(
      _.iterator.asScala.filter(Files.isRegularFile(_)).toList)
    assert(sources.exists(_.endsWith("graft/tools/Demo.scala")))
    val hits = sources.flatMap { f =>
      Files.readAllLines(f, java.nio.charset.StandardCharsets.UTF_8).asScala
        .zipWithIndex.collect {
          case (line, n) if external.findFirstIn(line).nonEmpty => s"$f:${n + 1}: ${line.trim}"
        }
    }
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
