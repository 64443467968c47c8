package graft

import scala.jdk.CollectionConverters._

/** graft reads a fixed, small set of session conf keys and
  * environment variables; this guard keeps a new `spark.graft.*`
  * switch or `SPARK_GRAFT_*` variable (a second execution path behind
  * a flag) from appearing without these lists changing with it. */
class ConfKeySpec extends org.scalatest.funsuite.AnyFunSuite {

  private val pinned = Set("vacuum.retainMs", "testClockMicros")

  private val pinnedEnv = Set("CPUS", "SF_DIR", "RUNS", "CONF", "BENCH_OUT")

  /** Every string-literal match of `name` under src/main/scala, as
    * (captured name, file:line). */
  private def literals(name: scala.util.matching.Regex): Seq[(String, String)] = {
    import java.nio.file.{Files, Paths}
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"${root.toAbsolutePath} missing")
    val sources = scala.util.Using.resource(Files.walk(root))(
      _.iterator.asScala.filter(p => Files.isRegularFile(p) &&
        p.toString.endsWith(".scala")).toList)
    sources.flatMap { f =>
      Files.readAllLines(f, java.nio.charset.StandardCharsets.UTF_8).asScala
        .zipWithIndex.flatMap { case (line, n) =>
          name.findAllMatchIn(line).map(m => (m.group(1), s"$f:${n + 1}"))
        }
    }
  }

  private def assertPinned(found: Seq[(String, String)], pinned: Set[String],
                           prefix: String): Unit = {
    val extra = found.filterNot { case (k, _) => pinned(k) }
    assert(extra.isEmpty, extra.map { case (k, at) =>
      s"$at: unpinned $prefix$k" }.mkString("\n"))
    assert(found.map(_._1).toSet === pinned,
      "a pinned name is no longer read; drop it from the pinned set")
  }

  test("the spark.graft.* conf keys under src/main/scala are exactly the pinned set") {
    assertPinned(literals(""""spark\.graft\.([^"]*)"""".r), pinned,
      "conf key spark.graft.")
  }

  test("the SPARK_GRAFT_* environment variables under src/main/scala are " +
    "exactly the pinned set") {
    assertPinned(literals(""""SPARK_GRAFT_([^"]*)"""".r), pinnedEnv,
      "environment variable SPARK_GRAFT_")
  }
}
