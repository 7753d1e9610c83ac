package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The measurement main's argument parser: a malformed call is a usage
  * error, never an exception, and is refused before any Spark session
  * exists. */
class BenchArgsSpec extends AnyFunSuite {

  private def sessions = (SparkSession.getActiveSession, SparkSession.getDefaultSession)

  test("malformed calls are usage errors and start no SparkSession") {
    val before = sessions
    val none = Map.empty[String, String]
    Seq(
      Seq("bogus") -> none,
      Seq("scaling", "nope") -> none,
      Seq("plan") -> none,
      Seq("plan", "out") -> none,
      Seq("queries", "no_such_query") -> none,
      Seq.empty[String] -> Map("SPARK_GRAFT_QUERY_RUNS" -> "three"),
      Seq("queries", "all") -> Map("SPARK_GRAFT_QUERY_RUNS" -> "0"),
      Seq("scaling", "skew") -> Map("SPARK_GRAFT_N" -> "2x"),
    ).foreach { case (args, env) =>
      assert(Bench.parse(args, env).isLeft, s"$args $env")
    }
    assert(sessions == before)
  }

  test("well-formed calls parse to their mode and defaults") {
    val env = Map("SPARK_GRAFT_QUERY_RUNS" -> "5", "SPARK_GRAFT_N" -> "2")
    assert(Bench.parse(Seq("plan", "out", "titles,cms_heavyhitters"), env) ==
      Right(Bench.Config(Bench.Plan("out", Seq("titles", "cms_heavyhitters")),
        cpus = 4, queryRuns = 5, tpd = 200, n = 2, mult = 100)))
    val driver = Bench.parse(Seq.empty, Map.empty).toOption.get
    assert(driver.mode == Bench.Driver && driver.queryRuns == 3)
    assert(driver.n == math.max(1, Runtime.getRuntime.availableProcessors / 4))
    assert(Bench.parse(Seq("queries"), Map.empty).map(_.mode) ==
      Right(Bench.Queries(SparkEntry.queries.keys.toSeq.sorted)))
    assert(Bench.parse(Seq("scaling", "extract"), Map.empty).map(_.tpd) == Right(20))
  }
}
