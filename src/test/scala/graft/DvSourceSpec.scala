package graft

import scala.jdk.CollectionConverters._

/** Deletion vectors have one sidecar reader and writer, in
  * `operators/Dv.scala`; this guard keeps a second copy of that IO
  * (or of the varint codec it calls) from appearing elsewhere. */
class DvSourceSpec extends org.scalatest.funsuite.AnyFunSuite {

  test("sidecar IO and the varint byte codec appear only in Dv.scala") {
    import java.nio.file.{Files, Paths}
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"${root.toAbsolutePath} missing")
    val sources = scala.util.Using.resource(Files.walk(root))(
      _.iterator.asScala.filter(p => Files.isRegularFile(p) &&
        p.toString.endsWith(".scala")).toList)
    assert(sources.exists(_.endsWith("graft/operators/Dv.scala")))
    // the varint byte codec anywhere; a sidecar file name or a
    // whole-file (binaryFile) read in the table-format code
    val codec = """decodeBytes|encodeBytes""".r
    val io = """\.dvs"|binaryFile""".r
    def tableFormat(f: java.nio.file.Path) =
      Seq("graft/operators/", "graft/streaming/").exists(f.toString.contains)
    val hits = sources.filterNot(_.endsWith("graft/operators/Dv.scala")).flatMap { f =>
      Files.readAllLines(f, java.nio.charset.StandardCharsets.UTF_8).asScala
        .zipWithIndex.collect {
          case (line, n) if codec.findFirstIn(line).nonEmpty ||
              tableFormat(f) && io.findFirstIn(line).nonEmpty =>
            s"$f:${n + 1}: ${line.trim}"
        }
    }
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
