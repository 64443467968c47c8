package graft

import scala.jdk.CollectionConverters._

/** Deletion vectors have one sidecar reader and writer, in
  * `operators/Dv.scala`, and the change feed reads its files through
  * Spark's parquet reader and Dv's per-file test; these guards keep a
  * second copy of that IO (or of the varint codec it calls), a private
  * parquet decoder or a driver-side vector resolve from appearing. */
class DvSourceSpec extends org.scalatest.funsuite.AnyFunSuite {

  private lazy val sources = {
    import java.nio.file.{Files, Paths}
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"${root.toAbsolutePath} missing")
    scala.util.Using.resource(Files.walk(root))(
      _.iterator.asScala.filter(p => Files.isRegularFile(p) &&
        p.toString.endsWith(".scala")).toList)
  }

  private def lines(f: java.nio.file.Path) =
    java.nio.file.Files.readAllLines(f, java.nio.charset.StandardCharsets.UTF_8)
      .asScala.zipWithIndex

  test("sidecar IO and the varint byte codec appear only in Dv.scala") {
    assert(sources.exists(_.endsWith("graft/operators/Dv.scala")))
    // the varint byte codec anywhere; a sidecar file name or a
    // whole-file (binaryFile) read in the table-format code
    val codec = """decodeBytes|encodeBytes""".r
    val io = """\.dvs"|binaryFile""".r
    def tableFormat(f: java.nio.file.Path) =
      Seq("graft/operators/", "graft/streaming/").exists(f.toString.contains)
    val hits = sources.filterNot(_.endsWith("graft/operators/Dv.scala")).flatMap { f =>
      lines(f).collect {
        case (line, n) if codec.findFirstIn(line).nonEmpty ||
            tableFormat(f) && io.findFirstIn(line).nonEmpty =>
          s"$f:${n + 1}: ${line.trim}"
      }
    }
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("no parquet-mr record decoder, no driver-side vector resolve, and no " +
    "position array in the change feed") {
    val feed = sources.find(_.endsWith("graft/streaming/ChangeFeedSource.scala"))
    assert(feed.nonEmpty, "ChangeFeedSource.scala moved")
    val banned = """org\.apache\.parquet\.hadoop\.ParquetReader|ReadSupport|RecordMaterializer|\bresolveDv\b""".r
    val positions = """Array\[Long\]""".r
    val hits = sources.flatMap { f =>
      lines(f).collect {
        case (line, n) if banned.findFirstIn(line).nonEmpty ||
            feed.contains(f) && positions.findFirstIn(line).nonEmpty =>
          s"$f:${n + 1}: ${line.trim}"
      }
    }
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
