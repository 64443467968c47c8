package graft

/** `graft.Bench`'s final stdout line must fit a 2000-byte stdout tail
  * over every registered query, however slow or broken the run. */
class BenchLineSpec extends org.scalatest.funsuite.AnyFunSuite {

  private val names = SparkEntry.queries.keys.toSeq.sorted
  // the widest `sf` the line can print, and the widest run count
  private val sf = "/data/" + "s" * 40
  private val bytesLimit = 2000

  private def bytes(line: String) = line.getBytes("UTF-8").length

  test("worst case: every query at the widest printable time fits 2000 bytes") {
    val line = Bench.stdoutLine(names,
      names.map(_ -> 1e9).toMap, Int.MaxValue, sf)
    assert(bytes(line) <= bytesLimit, s"${bytes(line)} bytes: $line")
    assert(line.contains(s""""q_ms":[${Seq.fill(names.size)(Bench.MsCap).mkString(",")}]"""))
    assert(line.contains(s""""sf":"${"s" * 32}""""))
  }

  test("worst case: every query failed fits 2000 bytes and voids the total") {
    val line = Bench.stdoutLine(names, names.map(_ -> -1.0).toMap,
      Int.MaxValue, sf)
    assert(bytes(line) <= bytesLimit, s"${bytes(line)} bytes: $line")
    assert(line.startsWith("""{"metric":"total","value":-1.0,"unit":"sec","""))
  }

  test("the line carries sorted-order integer ms, the count and the names hash") {
    val line = Bench.stdoutLine(Seq("a", "b", "c"),
      Map("a" -> 0.0004, "b" -> 1.2346, "c" -> 2.0), 3, "/t/sf0.01")
    assert(line === """{"metric":"total","value":3.235,"unit":"sec",""" +
      """"n_queries":3,"n_runs":3,"names_sha":"""" +
      Bench.namesSha(Seq("a", "b", "c")) + """","sf":"sf0.01",""" +
      """"q_ms":[0,1235,2000]}""")
    assert(Bench.namesSha(Seq("a", "b", "c")).length === 12)
    assert(Bench.namesSha(Seq("a", "b", "c")) !== Bench.namesSha(Seq("a", "c", "b")))
  }
}
