package graft

import org.scalatest.funsuite.AnyFunSuite

/** The driver parses Verify's oracle_sql.json with a strict JSON parser;
  * a malformed escape would silently zero the round's correctness table.
  * Pin the escaping against a real parser and the actual oracle map. */
class VerifyContractSpec extends AnyFunSuite {

  private def parse(json: String): Map[String, String] = {
    // strict parse via the JDK scripting-free route: Jackson ships with
    // Spark — same family the driver's python json.load enforces
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.readTree(json)
    val it = node.fields()
    val b = Map.newBuilder[String, String]
    while (it.hasNext) { val e = it.next(); b += e.getKey -> e.getValue.asText() }
    b.result()
  }

  test("the real oracle payload round-trips through a strict JSON parser") {
    val parsed = parse(Verify.oracleJson)
    assert(parsed.keySet == SparkEntry.oracleSql.keySet)
    SparkEntry.oracleSql.foreach { case (k, v) =>
      assert(parsed(k) == v, s"oracle SQL for $k corrupted by escaping")
    }
    // every driver query has an oracle and vice versa
    assert(SparkEntry.oracleSql.keySet == SparkEntry.queries.keySet)
  }

  test("bad arguments are rejected before any Spark session starts") {
    assert(Verify.parse(Seq("sf")).isLeft)
    assert(Verify.parse(Seq("sf", "out", "titles", "extra")).isLeft)
    assert(Verify.parse(Seq("sf", "out", "titles,no_such_query")) ==
      Left("unknown queries: no_such_query"))
    assert(Verify.parse(Seq("sf", "out", "titles,extract_spans")) ==
      Right(("sf", "out", Seq("titles", "extract_spans"))))
    // the driver's two-argument call runs every query
    assert(Verify.parse(Seq("sf", "out")).map(_._3.toSet) == Right(SparkEntry.queries.keySet))
    // main: usage on stderr, exit 2, no session (a fresh JVM, small heap)
    val javaBin = s"${sys.props("java.home")}/bin/java"
    Seq(Seq("sf"), Seq("sf", "out", "no_such_query")).foreach { args =>
      val p = new ProcessBuilder((Seq(javaBin, "-Xmx256m", "-cp", sys.props("java.class.path"),
        "graft.Verify") ++ args): _*).redirectErrorStream(true).start()
      val out = new String(p.getInputStream.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
      assert(p.waitFor() == 2, out)
      assert(out.startsWith("Verify: ") && out.contains(Verify.Usage), out)
      assert(!out.contains("SparkContext"), out)
    }
  }

  test("escaping survives quotes, backslashes, and control characters") {
    val nasty = "a\"b\\c\nd\re\tfg"
    val parsed = parse(s"{${Verify.escapeJson("k")}: ${Verify.escapeJson(nasty)}}")
    assert(parsed("k") == nasty)
  }
}
