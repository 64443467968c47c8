package graft

import scala.jdk.CollectionConverters._

/** graft reads a fixed, small set of session conf keys; this guard
  * keeps a new `spark.graft.*` switch (a second execution path behind
  * a flag) from appearing without this list changing with it. */
class ConfKeySpec extends org.scalatest.funsuite.AnyFunSuite {

  private val pinned = Set("vacuum.retainMs", "testClockMicros",
    "dv.distributeThreshold", "dv.persistHitsBytes",
    "dv.writeDistributeThreshold")

  test("the spark.graft.* conf keys under src/main/scala are exactly the pinned set") {
    import java.nio.file.{Files, Paths}
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"${root.toAbsolutePath} missing")
    val key = """"spark\.graft\.([^"]*)"""".r
    val sources = scala.util.Using.resource(Files.walk(root))(
      _.iterator.asScala.filter(p => Files.isRegularFile(p) &&
        p.toString.endsWith(".scala")).toList)
    val found = sources.flatMap { f =>
      Files.readAllLines(f, java.nio.charset.StandardCharsets.UTF_8).asScala
        .zipWithIndex.flatMap { case (line, n) =>
          key.findAllMatchIn(line).map(m => (m.group(1), s"$f:${n + 1}"))
        }
    }
    val extra = found.filterNot { case (k, _) => pinned(k) }
    assert(extra.isEmpty, extra.map { case (k, at) =>
      s"$at: unpinned conf key spark.graft.$k" }.mkString("\n"))
    assert(found.map(_._1).toSet === pinned,
      "a pinned key is no longer read; drop it from the pinned set")
  }
}
