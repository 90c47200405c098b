package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** The driver layer: the query registry, Verify's oracle_sql.json and
  * Bench's diff-base reader. No Spark session. */
class DriverSpec extends AnyFunSuite {

  test("registry: 186 queries, each name declared once") {
    val names = SparkEntry.registry.map(_.name)
    // a duplicated name would be dropped silently by the derived maps
    assert(names.diff(names.distinct).isEmpty)
    assert(names.size === 186)
    assert(SparkEntry.queries.size === 186)
    assert(SparkEntry.oracleSql.size === 184)
  }

  test("oracle_sql.json round-trips tab, CR, LF, quote, backslash and control characters") {
    val sql = "SELECT 'a\tb' AS x,\r\n \"q\" AS y, '\\d' AS z, '\u0001' AS w\nFROM t"
    val oracles = Map("q" -> sql, "weird \"name\"\t" -> sql.reverse) ++ SparkEntry.oracleSql
    val parsed = new com.fasterxml.jackson.databind.ObjectMapper()
      .readValue(Verify.oracleJson(oracles), classOf[java.util.Map[String, String]])
    assert(parsed.asScala.toMap === oracles)
  }

  /** The diff-base scan Bench used before it parsed JSON: the reference
    * the parser must agree with on the committed artifacts. */
  private def regexMinima(f: String): Option[(String, Map[String, Double])] = {
    val txt = new String(Files.readAllBytes(Paths.get(f)), "UTF-8").replace("\\\"", "\"")
    val sf = """"sf"\s*:\s*"([^"]*)"""".r.findFirstMatchIn(txt).map(_.group(1))
    val num = """-?[0-9.]+(?:[Ee][+-]?[0-9]+)?"""
    val qStart = txt.indexOf("\"queries\":{")
    val prev =
      if (qStart >= 0) {
        val body = txt.substring(qStart + 11, txt.indexOf('}', qStart))
        (""""([A-Za-z0-9_]+)":(""" + num + ")").r.findAllMatchIn(body)
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
      } else
        (""""([A-Za-z0-9_]+)":\{"min":(""" + num + ")").r.findAllMatchIn(txt)
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
    sf.map(_ -> prev)
  }

  for ((file, n) <- Seq("BENCH_LOCAL_sf0.1.json" -> 186, "BENCH_r12.json" -> 33))
    test(s"Bench diff base: $file parses to the same $n minima as the old regex scan") {
      val got = Bench.priorMinima(file)
      assert(got.map(_._2.size) === Some(n))
      assert(got === regexMinima(file))
    }

  test("Bench diff base: an unparseable artifact yields no diff base") {
    val f = Files.createTempFile("bench", ".json")
    try {
      Files.writeString(f, """{"tail": "[info] {\"metric\":\"total\"\n[success] done"}""")
      assert(Bench.priorMinima(f.toString) === None)
      assert(Bench.priorMinima(f.toString + ".missing") === None)
    } finally Files.delete(f)
  }
}
